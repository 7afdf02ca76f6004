"""DuckDB oracle check for one benchmark run, by the method of
scripts/verify_local.py: columns matched by name, column types equal, rows
sorted, values compared exactly."""
import math
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def _sorted_relation(con, sql):
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    rel = con.sql(f"SELECT {', '.join(cols)} FROM ({sql})")
    rows = sorted(tuple(_norm(v) for v in r) for r in rel.fetchall())
    return cols, [str(t) for t in rel.types], rows


def check(data_dir: Path, results_dir: Path, oracle_sql: dict) -> dict:
    """Maps each class to None when its result matches the oracle, else to a
    one-line reason."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    verdict = {}
    for name, sql in sorted(oracle_sql.items()):
        files = sorted((results_dir / name).glob("*.parquet"))
        if not files:
            verdict[name] = "no result"
            continue
        try:
            ours = _sorted_relation(con, f"SELECT * FROM read_parquet('{files[0]}')")
            want = _sorted_relation(con, sql)
        except Exception as e:  # noqa: BLE001 - any oracle error fails the class
            verdict[name] = f"oracle error: {str(e)[:200]}"
            continue
        if ours[0] != want[0]:
            verdict[name] = f"columns {ours[0]} vs {want[0]}"
        elif ours[1] != want[1]:
            verdict[name] = f"types {ours[1]} vs {want[1]}"
        elif ours[2] != want[2]:
            verdict[name] = f"rows differ ({len(ours[2])} vs {len(want[2])})"
        else:
            verdict[name] = None
    con.close()
    return verdict

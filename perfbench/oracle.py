"""DuckDB oracle compare for batch_ops (the same compare tools/selfcheck.py
makes): each query's Spark result, dumped as parquet by the benchmark JVM, must
equal the query's oracle SQL run by DuckDB over the same input tables, after
sorting columns by name and rows by value. Queries without oracle SQL must
return at least one row.
"""
import glob
import json
from pathlib import Path

TABLES = ["documents", "embeddings", "events", "customer", "nation"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if isinstance(v, (list, tuple)) or
                                "ndarray" in str(type(v)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(data_dir: Path, results_dir: Path):
    """Returns one check dict per query."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / t}.parquet'")
    meta = json.loads((results_dir / "queries.json").read_text())
    checks = []
    for q in meta["queries"]:
        name, oracle, rows = q["name"], q.get("oracle"), q["rows"]
        if oracle is None:
            checks.append({"name": f"batch_ops.{name}.rows", "ok": rows > 0,
                           "detail": f"{rows} rows (no oracle SQL)"})
            continue
        files = glob.glob(str(results_dir / name / "*.parquet"))
        try:
            a = _canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            b = _canon(con.execute(oracle).df())
            if list(a.columns) != list(b.columns):
                ok, detail = False, f"columns {list(a.columns)} vs {list(b.columns)}"
            elif len(a) != len(b):
                ok, detail = False, f"rows {len(a)} vs oracle {len(b)}"
            else:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
                ok, detail = True, f"{len(a)} rows equal the DuckDB oracle"
        except AssertionError as e:
            ok, detail = False, (str(e).splitlines() or ["differs"])[-1]
        except Exception as e:  # a result that cannot be read or compared fails the check
            ok, detail = False, f"{type(e).__name__}: {e}"
        checks.append({"name": f"batch_ops.{name}.oracle", "ok": ok, "detail": detail})
    return checks

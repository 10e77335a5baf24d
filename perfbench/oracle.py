"""DuckDB oracle check of the catalog workload's reference outputs.

The normalization and dtype-class rules are the repository's own: the
functions `col_class`, `dtype_diff` and `_norm` are loaded from
tools/check.py, so this check cannot drift from the oracle gate.
"""
import ast
import glob
import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
RULES = ("col_class", "dtype_diff", "_norm")


def load_rules(check_py):
    import numpy as np
    import pandas as pd
    with open(check_py) as f:
        tree = ast.parse(f.read(), check_py)
    funcs = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name in RULES]
    missing = set(RULES) - {n.name for n in funcs}
    if missing:
        raise SystemExit(f"perfbench: {check_py} lacks {sorted(missing)}")
    ns = {"pd": pd, "np": np}
    exec(compile(ast.Module(body=funcs, type_ignores=[]), check_py, "exec"), ns)
    return ns


def check(check_py, sf_dir, catalog):
    """Map each query of `catalog` ({name: {"ref": dir, "sql": text}}) to
    None when its reference output matches DuckDB, else to the reason."""
    import duckdb
    import pandas as pd
    rules = load_rules(check_py)
    norm, dtype_diff = rules["_norm"], rules["dtype_diff"]
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    verdict = {}
    for name, q in sorted(catalog.items()):
        files = sorted(glob.glob(os.path.join(q["ref"], "*.parquet")))
        if not files:
            verdict[name] = "no reference output"
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        try:
            duck_df = con.execute(q["sql"]).fetchdf()
        except Exception as e:  # the oracle SQL itself is under test too
            verdict[name] = f"oracle SQL error: {e}"
            continue
        a, b = norm(spark_df), norm(duck_df)
        if list(a.columns) != list(b.columns):
            verdict[name] = f"columns {list(a.columns)} vs {list(b.columns)}"
        elif dtype_diff(spark_df, duck_df):
            verdict[name] = "dtype " + "; ".join(dtype_diff(spark_df, duck_df))
        elif len(a) != len(b):
            verdict[name] = f"rows {len(a)} vs {len(b)}"
        elif len(a) and not (a.values == b.values).all():
            verdict[name] = "values differ"
        else:
            verdict[name] = None
    con.close()
    return verdict

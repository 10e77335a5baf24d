#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle gate.

Usage: check.py <sfDir> <verifyOut>
       check.py --same <verifyOutA> <verifyOutB>
       check.py --selftest
Loads each verifyOut/<name> parquet (Spark result), runs oracle_sql.json[name]
in DuckDB over views on sfDir parquet, normalizes (sort cols by name, sort
rows, stringify with rounding-stable repr) and diffs. The driver's hash is
dtype-sensitive (float64 0.0 != int64 0), so before value compare we also
compare per-column dtype CLASSES (int/float/bool/ts/str) — the %.6g
stringification alone rendered 0.0 and 0 identically and let a q_pack
float64-vs-int64 divergence through in round 3.

--same compares two Verify dumps row for row under the same rules, over
every query directory in either (the no-oracle rows included): the
parity gate for a refactor, or for one build run at two core counts.
"""
import sys, json, glob, os
import pandas as pd
import numpy as np


def col_class(s: pd.Series) -> str:
    """Collapse a column to the class the driver's hash distinguishes.

    Width differences inside a kind (int32 vs int64) are NOT failures — both
    engines vary widths per function; float-vs-int IS (q_pack round-3).
    Parquet date32 reads back as object-of-datetime.date while DuckDB gives
    datetime64 — the driver normalizes those, so both classify as "ts"."""
    try:
        k = np.dtype(s.dtype).kind
    except TypeError:
        # pandas extension dtypes (Int64 from a NULL-bearing DuckDB result,
        # boolean, Float64) have no numpy dtype; classify by kind-API so
        # they collapse to the same class as their numpy equivalents
        # instead of spuriously failing as "obj" vs "int".
        if pd.api.types.is_integer_dtype(s.dtype): k = "i"
        elif pd.api.types.is_float_dtype(s.dtype): k = "f"
        elif pd.api.types.is_bool_dtype(s.dtype): k = "b"
        elif pd.api.types.is_datetime64_any_dtype(s.dtype): k = "M"
        else: k = "O"
    cls = {"i": "int", "u": "int", "f": "float", "b": "bool",
           "M": "ts", "m": "td"}.get(k, "obj")
    if cls == "obj":
        nn = s.dropna()
        if len(nn) and hasattr(nn.iloc[0], "isoformat"):
            return "ts"
    return cls


def dtype_diff(spark_df: pd.DataFrame, duck_df: pd.DataFrame):
    """Per-column dtype-class mismatches for the shared column set."""
    bad = []
    for c in sorted(set(spark_df.columns) & set(duck_df.columns)):
        ca, cb = col_class(spark_df[c]), col_class(duck_df[c])
        # An all-NULL side may degrade int->float (pandas NaN) or ->obj;
        # only flag when both sides actually hold values.
        if ca != cb and spark_df[c].notna().any() and duck_df[c].notna().any():
            bad.append(f"{c}: spark={spark_df[c].dtype}({ca}) duck={duck_df[c].dtype}({cb})")
    return bad


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    def cell(v):
        if v is None or (isinstance(v, float) and np.isnan(v)): return "NULL"
        if isinstance(v, (pd.Timestamp, np.datetime64)):
            s = pd.Timestamp(v).floor("us").isoformat()
            return s[:-9] if s.endswith("T00:00:00") else s
        if isinstance(v, (float, np.floating)):
            # Round-trip repr (shortest string that parses back to the
            # exact double), NOT %.6g: the r9 q_sql_pipe wrong answer
            # (4026492047.60 vs 4026492047.55 at sf0.1) rendered
            # identically as "4.02649e+09" under %.6g at BOTH SFs while
            # the driver's hash failed it. The driver hash is the spec;
            # the local gate must be at least as strict. Queries are
            # responsible for declaring their own rounding (round(x, n)
            # mirrored in the oracle) wherever cross-engine float
            # accumulation order could differ.
            return repr(float(v))
        if isinstance(v, (np.integer,)): return str(int(v))
        if hasattr(v, "isoformat"): return v.isoformat()[:26]
        return str(v)
    s = df.map(cell)
    return s.sort_values(by=list(s.columns)).reset_index(drop=True)


def frame_diff(a_df: pd.DataFrame, b_df: pd.DataFrame, a_name="spark",
               b_name="duck"):
    """None when the two results agree under the gate's rules, else why not."""
    a, b = _norm(a_df), _norm(b_df)
    if list(a.columns) != list(b.columns):
        return f"COLS {a_name}={list(a.columns)} {b_name}={list(b.columns)}"
    bad_types = dtype_diff(a_df, b_df)
    if bad_types:
        return "DTYPE " + "; ".join(bad_types)
    if len(a) != len(b):
        return f"ROWS {a_name}={len(a)} {b_name}={len(b)}"
    if not a.equals(b):
        diff = (a != b).any(axis=1)
        if not diff.any():
            if len(a) == 0:
                # two genuinely matching zero-row results can still differ
                # in post-norm index/dtype details; dtype CLASSES were
                # already checked by dtype_diff above, so empty == empty
                return None
            # equals() false with no cell-level diff on non-empty frames:
            # index/dtype-only mismatch — idxmax on the empty mask throws
            return (f"UNEQUAL with no cell diff (rows={len(a)}; likely "
                    f"dtype/index mismatch on an all-equal frame)")
        i = diff.idxmax()
        return (f"VALUES first diff row {i}:\n  {a_name}={a.loc[i].to_dict()}"
                f"\n  {b_name}={b.loc[i].to_dict()}")
    return None


def load(out: str, name: str):
    """The Verify dump of one query, or None when it wrote no parquet."""
    files = glob.glob(f"{out}/{name}/*.parquet")
    return pd.concat([pd.read_parquet(f) for f in files]) if files else None


def report(fails, n: int, word: str) -> int:
    print()
    if fails:
        for name, msg in fails: print(f"FAIL {name}: {msg}")
        print(f"\n{n-len(fails)}/{n} {word}")
        return 1
    print(f"ALL {n}/{n} {word.upper()}")
    return 0


def same(out_a: str, out_b: str) -> int:
    names = sorted({os.path.basename(d) for o in (out_a, out_b)
                    for d in glob.glob(f"{o}/*") if os.path.isdir(d)})
    fails = []
    for name in names:
        a_df, b_df = load(out_a, name), load(out_b, name)
        if a_df is None or b_df is None:
            fails.append((name, f"NO OUTPUT in {out_a if a_df is None else out_b}"))
            continue
        msg = frame_diff(a_df, b_df, "a", "b")
        if msg:
            fails.append((name, msg))
        else:
            print(f"  SAME {name} ({len(a_df)} rows)")
    return report(fails, len(names), "identical")


def selftest() -> int:
    a = pd.DataFrame({"k": [1, 2], "v": np.array([0, 1], dtype="int64")})
    b = pd.DataFrame({"k": [1, 2], "v": np.array([0.0, 1.0], dtype="float64")})
    assert dtype_diff(a, b) == ["v: spark=int64(int) duck=float64(float)"], \
        "dtype gate MUST catch int64 vs float64"
    c = pd.DataFrame({"k": np.array([1, 2], dtype="int32"), "v": [0, 1]})
    assert dtype_diff(a, c) == [], "int width difference must NOT fail"
    d = pd.DataFrame({"k": [1, 2], "v": [np.nan, np.nan]})
    assert dtype_diff(a, d) == [], "all-NULL column must NOT fail"
    import datetime
    e = pd.DataFrame({"k": [1, 2], "m": [datetime.date(2024, 1, 1)] * 2})
    f = pd.DataFrame({"k": [1, 2], "m": pd.to_datetime(["2024-01-01"] * 2)})
    assert dtype_diff(e, f) == [], "date-object vs datetime64 must NOT fail"
    g = pd.DataFrame({"k": [1, 2], "v": pd.array([0, None], dtype="Int64")})
    assert dtype_diff(a, g) == [], "nullable Int64 extension dtype must class as int"
    # The r9 q_sql_pipe miss: two large sums differing by $0.05 MUST
    # stringify differently. Under the old %.6g both rendered
    # "4.02649e+09" and the local gate passed a driver-hash-failing
    # answer at both sf0.01 and sf0.1.
    h = pd.DataFrame({"rev": [4026492047.60]})
    i = pd.DataFrame({"rev": [4026492047.55]})
    hn, in_ = _norm(h), _norm(i)
    assert not hn.equals(in_), \
        "sub-ppm drift on a large sum MUST fail the value compare " + \
        f"(got {hn.loc[0,'rev']} == {in_.loc[0,'rev']})"
    assert _norm(h.copy()).equals(hn), "identical floats must still match"
    print("selftest OK: float64-vs-int64 fails; int-width, all-NULL, "
          "date-repr, Int64-ext pass; repr catches sub-ppm sum drift")
    return 0


if len(sys.argv) == 2 and sys.argv[1] == "--selftest":
    sys.exit(selftest())
if len(sys.argv) == 4 and sys.argv[1] == "--same":
    sys.exit(same(sys.argv[2], sys.argv[3]))

import duckdb

sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

oracle = json.load(open(f"{out}/oracle_sql.json"))

fails = []
for name in sorted(oracle):
    spark_df = load(out, name)
    if spark_df is None:
        fails.append((name, "NO SPARK OUTPUT")); continue
    try:
        duck_df = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        fails.append((name, f"ORACLE SQL ERROR: {e}")); continue
    msg = frame_diff(spark_df, duck_df)
    if msg:
        fails.append((name, msg)); continue
    print(f"  OK  {name} ({len(spark_df)} rows)")

sys.exit(report(fails, len(oracle), "match"))

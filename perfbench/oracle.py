"""Oracle check: each op's full Spark output against its DuckDB oracle.

The rules are those of the repository's oracle compare (`tools/compare.py`):
columns sorted by name, equal column names, equal row counts, and every
value equal (doubles bit for bit, nulls equal to nulls). A dtype
difference alone passes.
"""
import glob
import json
import os

import duckdb


def _views(con, input_dir):
    for path in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")


def _mismatch(got, exp):
    """None when the frames agree, else a one-line reason."""
    got = got[sorted(got.columns)].reset_index(drop=True)
    exp = exp[sorted(exp.columns)].reset_index(drop=True)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        gv, ev = got[c], exp[c]
        try:
            eq = (gv.values == ev.values) | (gv.isna().values & ev.isna().values)
        except Exception:
            eq = gv.astype(str).values == ev.astype(str).values
        if not eq.all():
            i = int((~eq).argmax())
            return f"{c}[{i}]: {gv.iloc[i]!r} != {ev.iloc[i]!r}"
    return None


def check(input_dir, out_dir):
    """({op: reason} for every op whose output disagrees with its oracle or
    is missing, {op: Spark output rows}); ops without an oracle are not
    listed in oracle_sql.json."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    _views(con, input_dir)
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures, rows = {}, {}
    for name in sorted(oracle):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            failures[name] = "no spark output"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            failures[name] = str(e).splitlines()[0]
            continue
        rows[name] = len(got)
        reason = _mismatch(got, exp)
        if reason:
            failures[name] = reason
    return failures, rows

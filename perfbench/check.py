"""Output check for the batch workloads.

An op's output is reduced to a digest of its canonical form: columns in
name order, floats rounded to 9 decimals, datetimes at microseconds,
every other non-numeric value as its string, rows sorted. This is the
canonicalization of the engine's oracle checker (tools/check_oracle.py),
so a digest taken from the DuckDB oracle output matches the digest of a
correct Spark output.
"""
import glob
import hashlib
import json
import math
import os

import numpy as np
import pandas as pd


def read_output(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return pd.DataFrame()
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _cell(v):
    if v is None or v is pd.NaT or v is pd.NA:
        return "None"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "nan"
        v = round(float(v), 9) + 0.0  # + 0.0 folds -0.0 into 0.0
        return str(int(v)) if v.is_integer() and abs(v) < 2 ** 53 else repr(v)
    return str(v)


def canonical_rows(df):
    """(sorted column names, sorted rows of canonical cell strings)."""
    cols = sorted(df.columns)
    df = df.reindex(cols, axis=1)
    out = []
    for c in cols:
        s = df[c]
        if np.issubdtype(s.dtype, np.datetime64):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            s = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            s = s.map(lambda v: "None" if v is None else str(v))
        out.append([_cell(v) for v in s.tolist()])
    rows = sorted(zip(*out)) if out else [()] * len(df)
    return cols, rows


def digest(df):
    cols, rows = canonical_rows(df)
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\n" + "\x1f".join(r).encode())
    return {"rows": len(rows), "columns": cols, "sha256": h.hexdigest()}


def load_expected(expected_dir, workload):
    with open(os.path.join(expected_dir, workload + ".json")) as f:
        return json.load(f)["ops"]


def check_op(out_dir, expect):
    """None if the output at `out_dir` matches `expect`, else why not."""
    if not os.path.isdir(out_dir):
        return "no output"
    got = digest(read_output(out_dir))
    if got["rows"] != expect["rows"]:
        return "rows %d, expected %d" % (got["rows"], expect["rows"])
    if expect["check"] == "rows":
        return None
    if got["columns"] != expect["columns"]:
        return "columns %s, expected %s" % (got["columns"], expect["columns"])
    if got["sha256"] != expect["sha256"]:
        return "values differ from the DuckDB oracle"
    return None

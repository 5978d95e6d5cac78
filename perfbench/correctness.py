"""Output check of the benchmark's untimed pass.

Oracle-backed queries are compared by digest with the DuckDB oracle's
answer, stored in expected.json. The digest follows the rule of the
repository's oracle diff (tools/check.py): columns sorted by name, rows
in result order, floats compared by value (NaN equals NaN), every other
value by its string form. Spec-class queries (no oracle) are checked for
their schema and row count. The store cycle checks itself in the driver
(row counts, no deleted id returned)."""

import glob
import hashlib
import json
import math
import os

import pandas as pd
import pyarrow.parquet as pq


def cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v + 0.0)  # -0.0 == 0.0, as the oracle diff compares them
    return str(v)


def frame_digest(df):
    """(rows, digest) of a result frame under the oracle-diff rule."""
    df = df[sorted(df.columns)]
    h = hashlib.sha256()
    h.update(json.dumps(list(df.columns)).encode())
    for c in df.columns:
        h.update(b"\x00col\x00")
        for v in df[c].tolist():
            h.update(cell(v).encode())
            h.update(b"\x1f")
    return len(df), h.hexdigest()


def read_output(path):
    parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not parts:
        raise FileNotFoundError(f"no parquet output under {path}")
    return pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)


def output_schema(path):
    part = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    return [f"{f.name}:{f.type}" for f in pq.read_schema(part)]


def describe(path, oracle):
    """What expected.json records for one op's output."""
    if oracle:
        rows, digest = frame_digest(read_output(path))
        return {"kind": "oracle", "rows": rows, "digest": digest}
    return {"kind": "spec", "rows": len(read_output(path)), "schema": output_schema(path)}


def check_op(path, expected):
    """None when the output matches, else a one-line reason."""
    if expected is None:
        return "no expected entry"
    try:
        if expected["kind"] == "oracle":
            rows, digest = frame_digest(read_output(path))
            if rows != expected["rows"]:
                return f"rows {rows} != oracle {expected['rows']}"
            if digest != expected["digest"]:
                return "digest differs from oracle"
            return None
        rows = len(read_output(path))
        if rows == 0 or rows != expected["rows"]:
            return f"rows {rows} != expected {expected['rows']}"
        schema = output_schema(path)
        if schema != expected["schema"]:
            return f"schema {schema} != expected {expected['schema']}"
        return None
    except Exception as e:  # unreadable output is a failed check
        return f"{type(e).__name__}: {e}"

"""Order-independent digests of query results.

A result is normalized by tools/oracle_check.py's `canon`, the
normalization of its exact DuckDB compare: columns sorted by name, rows
sorted, object columns coerced to numbers where they all parse. Each row
is then rendered as text, the rendered rows are sorted, and the header
and rows are hashed. The same
function digests the engine's parquet output and a DuckDB oracle's
result, so a pinned digest can be cross-checked against the oracle.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from oracle_check import canon  # noqa: E402


def _text(v):
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "null" if math.isnan(f) else repr(f + 0.0)
    if isinstance(v, decimal.Decimal):
        return repr(float(v) + 0.0)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_text(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{_text(k)}:{_text(x)}" for k, x in v.items())) + "}"
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    return json.dumps(str(v))


def frame_digest(df):
    """Hex digest of a pandas frame, independent of row and column order."""
    try:
        df = canon(df)
    except TypeError:
        # canon's row sort cannot order list or dict cells; the text sort
        # below orders the rows, so only canon's column steps are kept.
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype == object:
                try:
                    df[c] = pd.to_numeric(df[c])
                except (ValueError, TypeError):
                    pass
    rows = sorted("\t".join(_text(v) for v in row)
                  for row in df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    h.update(("\t".join(df.columns) + "\n").encode())
    for r in rows:
        h.update((r + "\n").encode())
    return h.hexdigest()


def parquet_digest(con, directory):
    """Digest of the parquet files Spark wrote into `directory`, or None
    when it holds none."""
    files = sorted(glob.glob(f"{directory}/*.parquet"))
    if not files:
        return None
    return frame_digest(con.sql(f"SELECT * FROM read_parquet({files!r})").df())

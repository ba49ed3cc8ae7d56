"""Output checks and summary statistics of the benchmark."""
import decimal
import glob
import hashlib
import json
import math
import os
from collections import Counter
from datetime import date, datetime, timezone


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 0.0
    return float(s[n // 2]) if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail_percentile(values, p=90, min_beyond=10):
    """The highest whole percentile q <= p that has at least `min_beyond`
    samples above its nearest-rank value. Returns (q, value, n), or None
    when there are too few samples for any percentile."""
    s = sorted(values)
    n = len(s)
    for q in range(p, 0, -1):
        rank = max(1, math.ceil(q * n / 100))
        if n - rank >= min_beyond:
            return q, float(s[rank - 1]), n
    return None


# ---- streams -----------------------------------------------------------

def parse_ms(ts: str) -> int:
    """Epoch milliseconds of an ISO-8601 timestamp written by Spark."""
    dt = datetime.fromisoformat(ts.replace("Z", "+00:00"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return round(dt.timestamp() * 1000)


def read_sink(sink: str):
    """(batch, topic, path, window, produced_ms) of every record written
    to the file sink, which keeps each trigger under `batch=<id>`."""
    out = []
    for f in sorted(glob.glob(os.path.join(sink, "batch=*", "*.json"))):
        batch = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    r = json.loads(line)
                    out.append((batch, r["topic"], r["path"], int(r["window"]),
                                parse_ms(r["produced"])))
    return out


def compare_records(expected, actual):
    """Multiset comparison of (topic, path, window, produced_ms) keys:
    (missing, spurious). A duplicate emit counts as spurious."""
    want = Counter(expected)
    got = Counter(actual)
    return sum((want - got).values()), sum((got - want).values())


# ---- batch digests -------------------------------------------------------

def canon(v) -> str:
    """Type-insensitive canonical text of one value: the Spark output and
    the DuckDB oracle may disagree on integer width or int/float, never
    on the value."""
    import numpy as np
    import pandas as pd
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return canon(float(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "null"
        if f.is_integer() and abs(f) < 2 ** 53:
            return str(int(f))
        return repr(f)
    if isinstance(v, (pd.Timestamp, datetime, date)):
        return pd.Timestamp(v).tz_localize(None).isoformat() \
            if getattr(v, "tzinfo", None) else pd.Timestamp(v).isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest_frame(df):
    """(rows, sha256) of a result, independent of row and column order."""
    cols = sorted(df.columns)
    rows = sorted("|".join(canon(r[c]) for c in cols) for r in df.to_dict("records"))
    h = hashlib.sha256(("cols:" + ",".join(cols) + "\n").encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return len(rows), h.hexdigest()


def digest_parquet(path: str):
    import duckdb
    con = duckdb.connect()
    try:
        return digest_frame(con.execute(
            f"SELECT * FROM read_parquet('{os.path.join(path, '*.parquet')}')").df())
    finally:
        con.close()

"""Output checks: result digests, and the comparison with the DuckDB
oracle evaluated on the same generated tables, normalised the way the
engine's correctness gate (``tools/check_correctness.py``) does it."""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pandas as pd

from tools.check_correctness import normalize


def plain(v):
    """A JSON-able, order-stable form of one Arrow/pandas cell."""
    if isinstance(v, np.ndarray):
        return [plain(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [plain(x) for x in v]
    if isinstance(v, dict):
        return {str(k): plain(x) for k, x in sorted(v.items())}
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, float) and v != v:
        return None
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return v


def digest(df: pd.DataFrame) -> str:
    """sha256 of the normalised frame, nested cells as JSON text."""
    flat = df.copy()
    for c in flat.columns:
        if flat[c].dtype == object:
            flat[c] = flat[c].map(
                lambda v: v if v is None or isinstance(v, str)
                else json.dumps(plain(v), sort_keys=True, default=str)
            )
    text = normalize(flat).to_csv(
        index=False, float_format="%.6f", date_format="%Y-%m-%dT%H:%M:%S.%f"
    )
    return hashlib.sha256(text.encode()).hexdigest()


def same_as_oracle(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    """None when the frames agree as the correctness gate compares them
    (columns, row count, values to 1e-6), else why not."""
    s, o = normalize(spark_df), normalize(oracle_df)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} vs {list(o.columns)}"
    if len(s) != len(o):
        return f"rowcount {len(s)} vs {len(o)}"
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=False, atol=1e-6)
    except AssertionError as e:
        return "value mismatch: " + " | ".join(str(e).splitlines()[:3])
    return None


def oracle_connection(data_dir: str, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con

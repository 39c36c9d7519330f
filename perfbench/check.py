"""Order-insensitive result fingerprints and the DuckDB oracle that pins them.

A fingerprint is the row count, the sorted ``(column, value class)`` list and
the sum mod 2**64 of one 64-bit hash per row.  Values are compared the way
the project's oracle comparison reads them: integers and doubles are
different classes, a decimal reads as the double it rounds to, ``-0.0``
equals ``0.0``, timestamps compare as UTC instants, and arrays and structs
compare element by element.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

_NULL = np.uint64(0x9E3779B97F4A7C15)
_MIX = np.uint64(0x100000001B3)


def _class_and_hash(col: pa.ChunkedArray) -> tuple[str, np.ndarray]:
    t = col.type
    if pa.types.is_boolean(t) or pa.types.is_integer(t):
        cls, vals = "int", col.cast(pa.int64())
    elif pa.types.is_floating(t) or pa.types.is_decimal(t):
        cls = "float"
        vals = pc.add(col.cast(pa.float64()), 0.0)  # folds -0.0 into 0.0
        vals = pc.if_else(pc.is_nan(vals), float("nan"), vals)
    elif pa.types.is_timestamp(t):
        cls, vals = "timestamp", col.cast(pa.timestamp("us"), safe=False).cast(pa.int64())
    elif pa.types.is_date(t):
        cls, vals = "date", col.cast(pa.date32()).cast(pa.int32()).cast(pa.int64())
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        cls, vals = "string", col
    else:
        cls = "nested"
        vals = pa.array([None if v is None else repr(v) for v in col.to_pylist()], pa.string())
    null = np.asarray(pc.is_null(vals).to_numpy(zero_copy_only=False), dtype=bool)
    if cls in ("string", "nested"):
        arr = np.asarray(vals.to_numpy(zero_copy_only=False), dtype=object)
        arr[null] = ""
    else:
        arr = np.asarray(vals.fill_null(0).to_numpy(zero_copy_only=False))
        arr = arr.view(np.uint64) if arr.dtype == np.float64 else arr.astype(np.int64)
    h = pd.util.hash_array(arr, categorize=False)
    h[null] = _NULL
    return cls, h


def fingerprint(table: pa.Table) -> dict:
    names = sorted(table.column_names)
    acc = np.zeros(table.num_rows, dtype=np.uint64)
    classes = []
    with np.errstate(over="ignore"):
        for n in names:
            cls, h = _class_and_hash(table.column(n))
            classes.append(f"{n}:{cls}")
            acc = acc * _MIX + h
    total = int(acc.sum(dtype=np.uint64)) if len(acc) else 0
    return {"rows": table.num_rows, "columns": classes, "hash": f"{total:016x}"}


def oracle_fingerprints(fixture_dir: str, sql_by_key: dict[str, str]) -> dict[str, dict]:
    """Run each key's DuckDB twin over the fixture's parquet tables."""
    import duckdb

    from fixture import TABLES

    con = duckdb.connect(config={"threads": 2})
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
        return {
            k: fingerprint(con.execute(sql).fetch_arrow_table())
            for k, sql in sql_by_key.items()
        }
    finally:
        con.close()

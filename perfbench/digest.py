"""Order-insensitive content digests of query outputs.

Shared by run.py (digests of the harness's parquet dumps) and
make_oracles.py (digests of the DuckDB oracle results), so both sides go
through the same normalization: column names lower-cased and sorted,
integers and decimals compared as float64 where exact, NULL spelled out.
"""
import decimal
import hashlib
import json


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return repr(float(v)) if abs(v) < 2 ** 52 else str(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, float):
        return repr(v)
    return str(v)


def of_rows(columns, rows):
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()
    return {"columns": [cols[i] for i in order], "rows": len(lines),
            "digest": h}


def of_parquet(path):
    import pyarrow.dataset as ds
    t = ds.dataset(path, format="parquet").to_table()
    cols = t.column_names
    data = [t.column(c).to_pylist() for c in cols]
    return of_rows(cols, list(zip(*data)) if data else [])


def load_oracles(path):
    with open(path) as f:
        return json.load(f)["digests"]

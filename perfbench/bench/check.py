"""Output checks: a content hash of a query result that is equal exactly when
the repo's oracle comparison (`tools/oracle_check.py`) calls two results
equal. Columns are taken in name order; rows as a multiset; values compare
by value across integer and float dtypes, NULL equals NaN, timestamps
compare as UTC wall clock, and binary values as hex."""
import datetime
import decimal
import hashlib
import json
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

NULL = "∅"


def connect(data_dir):
    """A DuckDB connection with one view per data table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def canon(v):
    """Canonical text of one value (see the module docstring)."""
    if v is None:
        return NULL
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalars and arrays
    if isinstance(v, float):
        if math.isnan(v):
            return NULL
        if math.isfinite(v) and v == int(v) and abs(v) < 2 ** 53:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return canon(float(v))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time, datetime.timedelta)):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    # pandas Timestamp / NaT and anything else with a string form
    if str(v) in ("NaT", "nan", "<NA>"):
        return NULL
    if hasattr(v, "to_pydatetime"):
        return canon(v.to_pydatetime())
    return str(v)


def result_hash(con, sql):
    """(hash, rows) of the result of `sql`."""
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(canon(r[i]) for i in order) for r in rel.fetchall())
    h = hashlib.sha256()
    h.update(("\x1f".join(cols[i] for i in order) + "\n").encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def output_hash(con, parquet_dir):
    """(hash, rows) of a result the harness wrote as parquet."""
    return result_hash(con, f"SELECT * FROM '{parquet_dir}/*.parquet'")

"""Order-independent hash of a query result, shared by the oracle
generator and the run-time check: columns sorted by name, every value
rendered with full precision, rows sorted (the repository's DuckDB
oracle comparison rules)."""
import hashlib
import math


def canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def result_hash(rows, cols):
    idx = [cols.index(c) for c in sorted(cols)]
    lines = sorted("\x1f".join(canon(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256("\x1f".join(sorted(cols)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest(), len(lines)


def parquet_hash(con, path):
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols = [d[0] for d in rel.description]
    return result_hash(rel.fetchall(), cols)

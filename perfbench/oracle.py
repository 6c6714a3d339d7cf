"""Order-insensitive output digests, and the batch-suite oracle check.

A digest is (row count, sum over rows of the first 8 bytes of SHA-256 of the
row's canonical text, mod 2**64): equal for equal multisets of rows in any
order. Canonical text sorts columns by name and formats values one way for
both engines (doubles to 12 significant digits, so a last-bit difference in
an unrounded double does not read as a wrong answer).
"""
import hashlib
import math
import os

MASK = (1 << 64) - 1


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:
            return "0"
        return format(v, ".12g")
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return "s" + str(v)


def digest(columns, rows):
    """(row count, digest) of rows given as tuples in `columns` order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for row in rows:
        text = "\x1f".join(canon(row[i]) for i in order)
        total = (total + int.from_bytes(hashlib.sha256(text.encode()).digest()[:8], "big")) & MASK
        n += 1
    return n, total


def check_suite(data_dir, out_dir, queries):
    """Digest each query's Spark output and its DuckDB oracle over the same
    input tables. Returns [(query, ok, detail)]."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-len('.parquet')]} AS "
                f"SELECT * FROM read_parquet('{data_dir}/{f}')")
    results = []
    for q in queries:
        try:
            spark = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{q}/*.parquet')")
            s_cols = [d[0] for d in spark.description]
            s_dig = digest(s_cols, spark.fetchall())
            with open(f"{out_dir}/{q}.sql") as fh:
                oracle = con.execute(fh.read())
            o_cols = [d[0] for d in oracle.description]
            o_dig = digest(o_cols, oracle.fetchall())
        except (duckdb.Error, OSError) as e:
            results.append((q, False, f"cannot compare: {e}"))
            continue
        ok = sorted(s_cols) == sorted(o_cols) and s_dig == o_dig
        results.append((q, ok, f"spark rows={s_dig[0]} digest={s_dig[1]:016x}; "
                               f"oracle rows={o_dig[0]} digest={o_dig[1]:016x}"))
    con.close()
    return results

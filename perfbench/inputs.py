"""Seeded input tables in the repository's TPC-H-ish test-data schema.

Every value is DuckDB's hash of (seed, column salt, row key), so the same
seed writes the same files. The library reads them through its own
`Tables`/`Ratings` loaders, exactly as it reads the test data.
"""

# Row counts of the sf0.1 test data: 15k customers, 20k parts, 150k orders,
# 1-7 line items per order (about 600k).
SF01 = {"customers": 15000, "parts": 20000, "orders": 150000}


def scaled(sf):
    """Row counts at scale factor `sf` (sf0.1 = SF01)."""
    return {k: int(v * sf / 0.1) for k, v in SF01.items()}


def write(out_dir, seed, counts, tables=("customer", "part", "orders", "lineitem")):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    seed = int(seed)

    def h(salt, *keys):
        return f"hash({seed}, {salt}, {', '.join(keys)})"

    def pick(salt, n, *keys):
        return f"CAST({h(salt, *keys)} % {n} AS BIGINT)"

    def unit(salt, *keys):
        return f"(CAST({h(salt, *keys)} % 1000000007 AS DOUBLE) / 1000000007.0)"

    def one_of(salt, values, *keys):
        arr = ", ".join(f"'{v}'" for v in values)
        return f"[{arr}][{pick(salt, len(values), *keys)} + 1]"

    def stamp(salt, *keys):
        return (f"TIMESTAMP '2019-01-01 00:00:00' + "
                f"to_seconds({pick(salt, 7 * 365 * 86400, *keys)})")

    nc, np_, no = counts["customers"], counts["parts"], counts["orders"]
    sql = {
        "customer": f"""
            SELECT id AS c_custkey,
                   printf('Customer#%09d', id) AS c_name,
                   CAST({pick(1, 25, 'id')} AS INTEGER) AS c_nationkey,
                   round({unit(2, 'id')} * 10998.99 - 999.99, 2) AS c_acctbal,
                   {one_of(3, ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
                               'MACHINERY'], 'id')} AS c_mktsegment
            FROM range(1, {nc + 1}) t(id) ORDER BY id""",
        "part": f"""
            SELECT id AS p_partkey,
                   'part ' || id AS p_name,
                   printf('Brand#%d%d', {pick(1, 5, 'id')} + 1, {pick(2, 5, 'id')} + 1) AS p_brand,
                   {one_of(3, ['STANDARD', 'SMALL', 'MEDIUM', 'LARGE', 'ECONOMY',
                               'PROMO'], 'id')} AS p_type,
                   CAST({pick(4, 50, 'id')} + 1 AS INTEGER) AS p_size,
                   round(900.0 + {unit(5, 'id')} * 1100.0, 2) AS p_retailprice
            FROM range(1, {np_ + 1}) t(id) ORDER BY id""",
        "orders": f"""
            SELECT id AS o_orderkey,
                   {pick(1, nc, 'id')} + 1 AS o_custkey,
                   {one_of(2, ['F', 'O', 'P'], 'id')} AS o_orderstatus,
                   round({unit(3, 'id')} * 400000.0, 2) AS o_totalprice,
                   {stamp(4, 'id')} AS o_orderdate,
                   {one_of(5, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                               '5-LOW'], 'id')} AS o_orderpriority
            FROM range(1, {no + 1}) t(id) ORDER BY id""",
        "lineitem": f"""
            WITH l AS (
              SELECT id, unnest(generate_series(1, {pick(10, 7, 'id')} + 1)) AS ln
              FROM range(1, {no + 1}) t(id)),
            q AS (SELECT id, ln, CAST({pick(12, 50, 'id', 'ln')} + 1 AS DOUBLE) AS qty FROM l)
            SELECT id AS l_orderkey,
                   {pick(11, np_, 'id', 'ln')} + 1 AS l_partkey,
                   {pick(13, 1000, 'id', 'ln')} + 1 AS l_suppkey,
                   CAST(ln AS INTEGER) AS l_linenumber,
                   qty AS l_quantity,
                   round(qty * (900.0 + {unit(14, 'id', 'ln')} * 1100.0), 2) AS l_extendedprice,
                   CAST({pick(15, 11, 'id', 'ln')} AS DOUBLE) / 100.0 AS l_discount,
                   CAST({pick(16, 9, 'id', 'ln')} AS DOUBLE) / 100.0 AS l_tax,
                   {one_of(17, ['R', 'A', 'N'], 'id', 'ln')} AS l_returnflag,
                   {one_of(18, ['O', 'F'], 'id', 'ln')} AS l_linestatus,
                   {stamp(19, 'id', 'ln')} AS l_shipdate
            FROM q ORDER BY id, ln""",
    }
    for t in tables:
        con.execute(f"COPY ({sql[t]}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)")
    con.close()

"""What each workload sends to the engine, and what the answers must be.

Both workloads are closed loops with one client: every query or
statement waits for the previous one, the way a batch analyst or an ETL
scheduler drives a warehouse.  Parameters come from the seeded RNG the
caller passes in, so one seed always produces the same text.

The DuckDB side of each check runs over the same generated parquet
files the engine reads.
"""

from __future__ import annotations

import datetime
import decimal
import math
import random

import duckdb

from datagen import TABLES

# Registry queries of the `adhoc` workload, frozen here so that a change
# to the engine's registry cannot change what is measured.  They are a
# subset of the engine's headline list, chosen to cover each operator
# family (TPC-H joins and aggregates, windows, sessionization, text,
# dedup sketches) while keeping a run short enough for the run budget.
# The star-schema (TPC-DS) queries need a star build first; `etl_hiveql`
# runs that build and `tpcds_q3` over it.
ADHOC_QUERIES = (
    "tpch_q1",
    "tpch_q3",
    "tpch_q6",
    "tpch_q9",
    "window_rank",
    "events_session",
    "text_tfidf_topk",
    "dedup_minhash_lsh",
)

# Registry queries without a DuckDB twin: their row count is checked
# against this SQL instead (the dedup assigns every document a cluster).
ROWCOUNT_ORACLES = {"dedup_minhash_lsh": "SELECT count(*) FROM documents"}

ETL_TABLES = ("etl_sales", "etl_status_orders", "etl_other_orders", "etl_cust_rev")


def adhoc_reports(rng: random.Random) -> list[tuple[str, str]]:
    """HiveQL an analyst types, sent through ``Engine.sql``.  The first
    references its CTE three times, so the engine spools it.  Each
    parameter picks one value of a uniform column, so every draw selects
    about the same number of rows."""
    flag = rng.choice(("A", "N", "R"))
    prio = rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"))
    return [
        (
            "hql_cte_revenue",
            f"""WITH rev AS (
  SELECT o_custkey AS custkey, year(o_orderdate) AS yr,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE l_returnflag = '{flag}'
  GROUP BY o_custkey, year(o_orderdate))
SELECT r.yr, COUNT(*) AS n_cust, SUM(r.revenue) AS revenue
FROM rev r JOIN (SELECT yr, MIN(revenue) AS floor_rev FROM rev GROUP BY yr) f
  ON r.yr = f.yr
WHERE r.revenue > f.floor_rev AND r.yr IN (SELECT yr FROM rev WHERE revenue > 0)
GROUP BY r.yr""",
        ),
        (
            "hql_segment_orders",
            f"""SELECT c_mktsegment, COUNT(DISTINCT o_orderkey) AS n_orders,
       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
FROM customer JOIN orders ON c_custkey = o_custkey
WHERE o_orderpriority = '{prio}'
GROUP BY c_mktsegment""",
        ),
    ]


def etl_script(rng: random.Random) -> tuple[list[tuple[str, str]], list[str]]:
    """One ETL iteration: (kind, HiveQL statement) pairs for the engine,
    and the DuckDB statements that build the same final tables.  Seven
    statements move data; with the two reports, two iterations give 18
    of a run's 20 latency samples (DDL is not sampled).

    UPDATE, DELETE and MERGE target unpartitioned tables, and the MERGE
    casts its SET expression back to the column type: the engine's
    copy-on-write rewrite currently loses every row of a partitioned
    catalog table, and writes a widened decimal that the table can no
    longer read (see the README's known defects).

    Each parameter picks one value of a uniform column, so every draw
    moves about the same number of rows."""
    status = rng.choice(("F", "O"))
    flag = rng.choice(("A", "N", "R"))
    ostat = rng.choice(("F", "O", "P"))
    prio = rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
    bump = rng.randint(10, 99)
    gone = rng.randrange(10)
    part = rng.randrange(4)
    order_cols = (
        "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, "
        "o_orderpriority STRING"
    )
    order_sel = "o_orderkey, o_custkey, o_totalprice, o_orderpriority"
    sales_sel = (
        "l_orderkey, l_partkey, l_quantity, l_extendedprice, l_returnflag, "
        "year(l_shipdate)"
    )
    cust_rev = (
        "SELECT o_custkey AS custkey, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS revenue, "
        "COUNT(*) AS n_orders FROM etl_status_orders GROUP BY o_custkey"
    )
    update = (
        f"UPDATE etl_status_orders SET o_totalprice = o_totalprice + {bump}.0 "
        f"WHERE o_orderpriority = '{prio}'"
    )
    delete = f"DELETE FROM etl_other_orders WHERE o_custkey % 10 = {gone}"
    delta = (
        "SELECT c_custkey AS custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS delta "
        f"FROM customer WHERE c_custkey % 4 = {part}"
    )
    hive = [
        ("ddl", "DROP TABLE IF EXISTS etl_sales"),
        (
            "ddl",
            "CREATE TABLE etl_sales (orderkey BIGINT, partkey BIGINT, "
            "qty DOUBLE, price DOUBLE, flag STRING) "
            "PARTITIONED BY (ship_year INT) STORED AS PARQUET",
        ),
        (
            "insert",
            "INSERT OVERWRITE TABLE etl_sales PARTITION (ship_year) "
            f"SELECT {sales_sel} FROM lineitem WHERE l_linestatus = '{status}'",
        ),
        (
            "insert",
            "INSERT INTO TABLE etl_sales PARTITION (ship_year) "
            f"SELECT {sales_sel} FROM lineitem "
            f"WHERE l_linestatus <> '{status}' AND l_returnflag = '{flag}'",
        ),
        ("ddl", "DROP TABLE IF EXISTS etl_status_orders"),
        ("ddl", "DROP TABLE IF EXISTS etl_other_orders"),
        ("ddl", f"CREATE TABLE etl_status_orders ({order_cols}) STORED AS PARQUET"),
        ("ddl", f"CREATE TABLE etl_other_orders ({order_cols}) STORED AS PARQUET"),
        (
            "insert",
            f"FROM orders INSERT OVERWRITE TABLE etl_status_orders SELECT {order_sel} "
            f"WHERE o_orderstatus = '{ostat}' "
            f"INSERT OVERWRITE TABLE etl_other_orders SELECT {order_sel} "
            f"WHERE o_orderstatus <> '{ostat}'",
        ),
        ("ddl", "DROP TABLE IF EXISTS etl_cust_rev"),
        ("ctas", f"CREATE TABLE etl_cust_rev STORED AS PARQUET AS {cust_rev}"),
        ("update", update),
        ("delete", delete),
        (
            "merge",
            f"MERGE INTO etl_cust_rev t USING ({delta}) s ON t.custkey = s.custkey "
            "WHEN MATCHED THEN UPDATE SET revenue = "
            "CAST(t.revenue + s.delta AS DECIMAL(18,2)) "
            "WHEN NOT MATCHED THEN INSERT VALUES (s.custkey, s.delta, 0)",
        ),
    ]
    duck = [
        "DROP TABLE IF EXISTS etl_sales",
        "CREATE TABLE etl_sales AS SELECT l_orderkey AS orderkey, "
        "l_partkey AS partkey, l_quantity AS qty, l_extendedprice AS price, "
        "l_returnflag AS flag, CAST(year(l_shipdate) AS INTEGER) AS ship_year "
        f"FROM lineitem WHERE l_linestatus = '{status}'",
        "INSERT INTO etl_sales SELECT l_orderkey, l_partkey, l_quantity, "
        "l_extendedprice, l_returnflag, CAST(year(l_shipdate) AS INTEGER) "
        f"FROM lineitem WHERE l_linestatus <> '{status}' AND l_returnflag = '{flag}'",
        "DROP TABLE IF EXISTS etl_status_orders",
        f"CREATE TABLE etl_status_orders AS SELECT {order_sel} FROM orders "
        f"WHERE o_orderstatus = '{ostat}'",
        "DROP TABLE IF EXISTS etl_other_orders",
        f"CREATE TABLE etl_other_orders AS SELECT {order_sel} FROM orders "
        f"WHERE o_orderstatus <> '{ostat}'",
        "DROP TABLE IF EXISTS etl_cust_rev",
        f"CREATE TABLE etl_cust_rev AS {cust_rev}",
        update,
        delete,
        # DuckDB 1.0 has no MERGE: matched rows update, the rest insert
        "UPDATE etl_cust_rev SET revenue = "
        "CAST(etl_cust_rev.revenue + s.delta AS DECIMAL(18,2)) "
        f"FROM ({delta}) s WHERE etl_cust_rev.custkey = s.custkey",
        f"INSERT INTO etl_cust_rev SELECT s.custkey, s.delta, 0 FROM ({delta}) s "
        "WHERE s.custkey NOT IN (SELECT custkey FROM etl_cust_rev)",
    ]
    return hive, duck


def etl_reports(rng: random.Random) -> list[tuple[str, str]]:
    """Read-back reports over the tables the script just wrote."""
    floor = rng.choice((100000, 200000, 300000))
    return [
        (
            "hql_cte_sales_by_year",
            """WITH s AS (
  SELECT ship_year, flag, SUM(CAST(price AS DECIMAL(18,2))) AS rev,
         COUNT(*) AS n
  FROM etl_sales GROUP BY ship_year, flag)
SELECT a.ship_year, a.flag, a.rev, b.year_rev
FROM s a JOIN (SELECT ship_year, SUM(rev) AS year_rev FROM s GROUP BY ship_year) b
  ON a.ship_year = b.ship_year
WHERE a.n >= (SELECT MIN(n) FROM s)""",
        ),
        (
            "hql_top_customers",
            f"""SELECT c.c_mktsegment, COUNT(*) AS n_cust, SUM(t.revenue) AS revenue
FROM etl_cust_rev t JOIN customer c ON t.custkey = c.c_custkey
WHERE t.revenue > {floor}
GROUP BY c.c_mktsegment""",
        ),
    ]


def fingerprint_sql(con: duckdb.DuckDBPyConnection, table: str) -> str:
    """Row count, distinct count per column and exact sum per numeric
    column of a table, in SQL both engines run alike."""
    items = ["count(*) AS n"]
    for name, typ, *_ in con.sql(f"DESCRIBE {table}").fetchall():
        items.append(f"count(DISTINCT {name}) AS d_{name}")
        if typ in ("BIGINT", "INTEGER", "DOUBLE") or typ.startswith("DECIMAL"):
            items.append(f"sum(CAST({name} AS DECIMAL(38,6))) AS s_{name}")
    return f"SELECT {', '.join(items)} FROM {table}"


def duck_connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def _canon(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def canon_rows(columns: list[str], records) -> list[tuple[str, ...]]:
    """Order-insensitive, column-name-aligned canonical form of a result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(rec[i]) for i in order) for rec in records)


def duck_rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple[str, ...]]:
    cur = con.sql(sql)
    return canon_rows(cur.columns, cur.fetchall())

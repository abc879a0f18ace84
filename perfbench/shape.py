"""Measure the shape of a directory of benchmark tables.

    python3 perfbench/shape.py DIR

Prints one JSON object: per table its row count and parquet column
types, plus the ranges and key distributions ``datagen.py`` reproduces
(dates, amounts, rows per key, events per user).  Run it on a test-table
directory and on a generated one to compare them; perfbench/README.md
records both.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

# table -> SQL over a view of the same name; one result row, named columns
_STATS = {
    "orders": """SELECT min(o_orderdate)::VARCHAR AS date_min,
        max(o_orderdate)::VARCHAR AS date_max,
        min(o_totalprice) AS price_min, max(o_totalprice) AS price_max,
        count(*) / count(DISTINCT o_custkey) AS orders_per_customer
        FROM orders""",
    "lineitem": """SELECT min(l_shipdate)::VARCHAR AS date_min,
        max(l_shipdate)::VARCHAR AS date_max,
        min(l_extendedprice) AS price_min, max(l_extendedprice) AS price_max,
        max(l_discount) AS discount_max, max(l_tax) AS tax_max,
        count(*) / count(DISTINCT l_orderkey) AS lines_per_order
        FROM lineitem""",
    "customer": """SELECT min(c_acctbal) AS acctbal_min,
        max(c_acctbal) AS acctbal_max FROM customer""",
    "events": """WITH u AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        r AS (SELECT n, row_number() OVER (ORDER BY n DESC) AS rk,
                     count(*) OVER () AS users FROM u)
        SELECT (SELECT min(ts)::VARCHAR FROM events) AS ts_min,
        (SELECT max(ts)::VARCHAR FROM events) AS ts_max,
        (SELECT count(DISTINCT ts) = count(*) FROM events) AS ts_distinct,
        (SELECT avg(value) FROM events) AS value_mean,
        (SELECT median(value) FROM events) AS value_median,
        max(users) AS users, min(n) AS per_user_min,
        median(n) AS per_user_median, max(n) AS per_user_max,
        sum(n) FILTER (WHERE rk <= users / 100) / sum(n) AS top1pct_user_share
        FROM r""",
}


def shape(data_dir: str) -> dict:
    con = duckdb.connect()
    out = {}
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):
            continue
        table = name.removesuffix(".parquet")
        path = os.path.join(data_dir, name)
        f = pq.ParquetFile(path)
        info = {
            "rows": f.metadata.num_rows,
            "types": {c.name: str(c.type) for c in f.schema_arrow},
        }
        if table in _STATS:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            res = con.execute(_STATS[table])
            row = res.fetchone()
            info.update(
                {d[0]: round(v, 4) if isinstance(v, float) else v
                 for d, v in zip(res.description, row)}
            )
        out[table] = info
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(json.dumps(shape(sys.argv[1]), indent=1, default=str))

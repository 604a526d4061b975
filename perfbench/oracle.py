"""DuckDB checks of the outputs the JVM could not check by itself.

Declared queries: the first result of each, dumped as parquet, against
the query's oracle SQL (`SparkEntry.oracleSql`) over the same generated
tables, compared the way tools/oracle_check.py does (columns by name,
values by their string form).

Nightly pipeline: every processed day's `fact_daily_sales` and
`fact_inventory_reconciliation` partition against SQL written here from
the pipeline's contract over the raw CSVs, and the day's alert count.
"""
import datetime as dt
import glob
import hashlib
import json
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(tmp):
    os.makedirs(tmp, exist_ok=True)
    return duckdb.connect(config={"threads": 4, "temp_directory": tmp})


def _same(con, got_sql, want_sql):
    """None if both queries return the same rows, else a description."""
    g = con.execute(got_sql).fetchdf()
    w = con.execute(want_sql).fetchdf()
    g, w = g[sorted(g.columns)], w[sorted(w.columns)]
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"{len(g)} rows != {len(w)}"
    for i, (a, b) in enumerate(zip(g.values.tolist(), w.values.tolist())):
        if [str(x) for x in a] != [str(x) for x in b]:
            return f"row {i}: {a} != {b}"
    return None


def _declared_one(tmp, cache, tables_dir, tables_hash, check_dir, name, sql):
    files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
    if not files:
        return name, "no output"
    con = duckdb.connect(config={"threads": 2, "temp_directory": tmp})
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    # The oracle's answer is a function of the input bytes and the SQL, so
    # a run on inputs seen before reuses it.
    key = hashlib.sha256(f"{tables_hash}\n{duckdb.__version__}\n{sql}".encode()).hexdigest()
    cached = os.path.join(cache, f"{key}.pkl")
    try:
        if not os.path.exists(cached):
            part = f"{cached}.{os.getpid()}.{name}"
            con.execute(sql).fetchdf().to_pickle(part)
            os.replace(part, cached)
        con.register("oracle_result", pd.read_pickle(cached))
        return name, _same(con, f"SELECT * FROM read_parquet({files!r})",
                           "SELECT * FROM oracle_result")
    except duckdb.Error as e:
        return name, f"oracle error: {e}"
    finally:
        con.close()


def declared(tmp, cache, tables_dir, check_dir):
    """{query name: mismatch description} for every dumped query that has
    an oracle and disagrees with it (missing output counts as a mismatch).
    The oracles run three at a time, one connection each (DuckDB releases
    the GIL): most are chains of small CTEs that keep few threads busy."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(cache, exist_ok=True)
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            with open(p, "rb") as f:
                h.update(t.encode() + f.read())
    with ThreadPoolExecutor(3) as pool:
        futs = [pool.submit(_declared_one, tmp, cache, tables_dir, h.hexdigest(),
                            check_dir, n, sql) for n, sql in oracle.items()]
        return {n: why for n, why in (f.result() for f in futs) if why}


def _csv(path):
    return f"read_csv('{path}', header=true, all_varchar=true)"


def recon_sql(raw, day, prev):
    """Reconciliation of `day` from the raw zone: staged sales (sku
    normalized, quantity cast with bad values dropped), opening = the
    previous day's snapshot, closing = the day's, product name from the
    closing snapshot's first row per sku by (name, category)."""
    sales = _csv(f"{raw}/pos_sales/date={day}/sales.csv")
    open_ = _csv(f"{raw}/inventory/date={prev}/snapshot.csv")
    close = _csv(f"{raw}/inventory/date={day}/snapshot.csv")
    return f"""
WITH s AS (SELECT upper(trim(sku)) AS sku,
                  CAST(sum(TRY_CAST(quantity AS INTEGER)) AS BIGINT) AS sold
           FROM {sales} GROUP BY 1),
o AS (SELECT upper(trim(sku)) AS sku, CAST(stock_on_hand AS BIGINT) AS opening_stock FROM {open_}),
c AS (SELECT upper(trim(sku)) AS sku, CAST(stock_on_hand AS BIGINT) AS actual_closing_stock,
             trim(product_name) AS product_name, trim(category) AS category FROM {close}),
d AS (SELECT sku, product_name FROM (
        SELECT sku, product_name, row_number() OVER (PARTITION BY sku
               ORDER BY product_name, category) AS rn FROM c) WHERE rn = 1),
j AS (SELECT sku, COALESCE(opening_stock, 0) AS opening_stock,
             COALESCE(actual_closing_stock, 0) AS actual_closing_stock
      FROM o FULL JOIN (SELECT sku, actual_closing_stock FROM c) USING (sku))
SELECT DATE '{day}' AS date_key, j.sku, d.product_name, j.opening_stock,
       COALESCE(s.sold, 0) AS quantity_sold,
       j.opening_stock - COALESCE(s.sold, 0) AS expected_closing_stock,
       j.actual_closing_stock,
       j.actual_closing_stock - (j.opening_stock - COALESCE(s.sold, 0)) AS discrepancy_amount
FROM j LEFT JOIN s USING (sku) LEFT JOIN d USING (sku)
ORDER BY sku"""


def staged_sql(raw, day):
    return f"""SELECT DATE '{day}' AS date_key, upper(trim(sku)) AS sku,
  CAST(sum(TRY_CAST(quantity AS INTEGER)) AS BIGINT) AS total_quantity_sold
FROM {_csv(f"{raw}/pos_sales/date={day}/sales.csv")} GROUP BY 2 ORDER BY sku"""


def etl_days(con, raw, warehouse, days):
    """{day: mismatch description} over the processed days; `days` maps
    day -> alert count the pipeline reported."""
    bad = {}
    for day, alerts in days.items():
        prev = dt.date.fromisoformat(day) - dt.timedelta(days=1)
        def part(table):
            files = glob.glob(f"{warehouse}/{table}/date_key={day}/*.parquet")
            return (f"SELECT DATE '{day}' AS date_key, * FROM read_parquet({files!r}, "
                    "hive_partitioning=false) ORDER BY sku") if files else None
        why = None
        recon = part("fact_inventory_reconciliation")
        staged = part("fact_daily_sales")
        if recon is None or staged is None:
            why = "partition missing"
        else:
            why = (_same(con, recon, recon_sql(raw, day, prev))
                   or _same(con, staged, staged_sql(raw, day)))
            if why is None:
                want = con.execute(f"SELECT count(*) FROM ({recon_sql(raw, day, prev)}) "
                                   "WHERE discrepancy_amount <> 0").fetchone()[0]
                if want != alerts:
                    why = f"alert count {alerts} != {want}"
        if why:
            bad[day] = why
    return bad

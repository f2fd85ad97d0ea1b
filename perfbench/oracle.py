"""Output checks, run outside every timed window.

* Uber models: the six reference models recomputed independently in DuckDB
  over the same CSVs, compared with the tables the program wrote.
* Registry queries: each result compared with its `SparkEntry.oracleSql`
  twin run in DuckDB over the same parquet tables, with the normalization of
  the repository's `tools/check.py` (columns sorted by name, rows sorted by
  every column, dtypes must agree, values compared exactly).
* `planted_row_caught`: the comparison must reject a result with one wrong
  row, so a check that silently passes everything shows up as a failure.
"""
import glob
import os

import duckdb
import pandas as pd

FACT = "raw_data_janjune_15"
BASE = "base_num_and_name"
ZONE = "taxi_zone_lookup"

_MONTH_CASE = """CASE
      WHEN EXTRACT(MONTH FROM raw.pickup_date) = 1 THEN 'January'
      WHEN EXTRACT(MONTH FROM raw.pickup_date) = 2 THEN 'February'
      WHEN EXTRACT(MONTH FROM raw.pickup_date) = 3 THEN 'March'
      WHEN EXTRACT(MONTH FROM raw.pickup_date) = 4 THEN 'April'
      WHEN EXTRACT(MONTH FROM raw.pickup_date) = 5 THEN 'May'
      WHEN EXTRACT(MONTH FROM raw.pickup_date) = 6 THEN 'June' END"""

_MONTH_EXTRACT = f"""month_extract AS (
    SELECT base.base_name AS "Dispatching Base Name",
           EXTRACT(MONTH FROM raw.pickup_date) AS month_num,
           {_MONTH_CASE} AS month
    FROM {FACT} raw JOIN {BASE} base ON base.base_num = raw.dispatching_base_num)"""

# The reference's dbt models, in DuckDB's dialect.
UBER_MODELS = {
    "unter_grun_pickups_in_bronx": f"""
        SELECT raw.pickup_date AS "Pickup Date", base.base_name AS "Base Name",
               z.borough AS "Borough", z.zone AS "Zone"
        FROM {FACT} raw
        JOIN {BASE} base ON base.base_num = raw.affiliated_base_num
        JOIN {ZONE} z ON z.locationid = raw.locationid
        WHERE base.base_name IN ('Unter', 'Grun') AND z.borough = 'Bronx'""",
    "total_pickups_in_may_by_base": f"""
        SELECT base.base_name AS "Dispatching Base Name",
               COUNT(*) AS "Number of Pick Ups for Base"
        FROM {FACT} raw JOIN {BASE} base ON base.base_num = raw.dispatching_base_num
        WHERE EXTRACT(MONTH FROM raw.pickup_date) = 5
        GROUP BY base.base_name""",
    "top_3_base_names_by_total_pickups": f"""
        SELECT base.base_num AS "Dispatching Base Number", base.base_name AS "Base Name",
               COUNT(raw.pickup_date) AS "Total Number of Pick Ups"
        FROM {FACT} raw JOIN {BASE} base ON base.base_num = raw.dispatching_base_num
        GROUP BY base.base_num, base.base_name
        ORDER BY 3 DESC LIMIT 3""",
    "top_3_pickup_dates_per_base": f"""
        WITH per_date AS (
            SELECT base.base_name AS base_name, raw.dispatching_base_num AS num,
                   CAST(raw.pickup_date AS DATE) AS d, COUNT(*) AS n
            FROM {FACT} raw JOIN {BASE} base ON base.base_num = raw.dispatching_base_num
            GROUP BY 1, 2, 3),
        ranked AS (
            SELECT base_name AS "Base Name", num AS "Dispatching Base Number",
                   RANK() OVER (PARTITION BY num ORDER BY n DESC) AS "Rank",
                   n AS "Count", d AS "Pick Up Date"
            FROM per_date)
        SELECT * FROM ranked WHERE "Rank" IN (1, 2, 3)""",
    "pickup_count_vs_average_per_base": f"""
        WITH {_MONTH_EXTRACT},
        counts AS (
            SELECT "Dispatching Base Name", month, month_num, COUNT(*) AS "Monthly Count",
                   AVG(COUNT(*)) OVER (PARTITION BY month) AS "Average for Month"
            FROM month_extract GROUP BY 1, 2, 3)
        SELECT "Dispatching Base Name", month, "Monthly Count", "Average for Month",
               (("Monthly Count" / "Average for Month") - 1) * 100 AS "Percentage Difference"
        FROM counts""",
    "pickup_percentile_by_base_per_month": f"""
        WITH {_MONTH_EXTRACT},
        counting AS (
            SELECT "Dispatching Base Name", month, COUNT(*) AS "Count per Base per Month",
                   (SELECT COUNT(*) FROM month_extract sub WHERE sub.month = m.month)
                       AS per_month
            FROM month_extract m GROUP BY 1, 2)
        SELECT "Dispatching Base Name", month, "Count per Base per Month",
               ("Count per Base per Month" / per_month) * 100 AS "Percentile of Pick Ups"
        FROM counting""",
}

_CSV_COLUMNS = {
    FACT: "{'dispatching_base_num': 'VARCHAR', 'pickup_date': 'TIMESTAMP', "
          "'affiliated_base_num': 'VARCHAR', 'locationid': 'INTEGER'}",
    BASE: "{'base_num': 'VARCHAR', 'base_name': 'VARCHAR'}",
    ZONE: "{'locationid': 'INTEGER', 'borough': 'VARCHAR', 'zone': 'VARCHAR'}",
}


def _csv(paths, table):
    files = "[" + ", ".join(f"'{p}'" for p in paths) + "]"
    return (f"read_csv({files}, header = true, columns = {_CSV_COLUMNS[table]}, "
            f"timestampformat = '%Y-%m-%d %H:%M:%S')")


def uber_connection(csv_dir, extra_fact_csvs=()):
    """DuckDB views over the three source CSVs (plus landed tick files)."""
    con = duckdb.connect()
    for t in (BASE, ZONE):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM {_csv([os.path.join(csv_dir, t + '.csv')], t)}")
    facts = [os.path.join(csv_dir, FACT + ".csv"), *extra_fact_csvs]
    con.sql(f"CREATE VIEW {FACT} AS SELECT * FROM {_csv(facts, FACT)}")
    return con


def uber_expected(con):
    return {name: con.sql(sql).df() for name, sql in UBER_MODELS.items()}


def read_parquet_dir(con, path):
    if not glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        raise FileNotFoundError(f"no parquet output under {path}")
    return con.sql(f"SELECT * FROM read_parquet('{path}/**/*.parquet')").df()


def _sorted_rows(df):
    df = df.reindex(sorted(df.columns), axis=1)
    try:
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)
    except TypeError:  # unorderable cells (lists, structs): order by their text
        order = df.astype(str).sort_values(by=list(df.columns)).index
        return df.loc[order].reset_index(drop=True)


def compare(expected, actual, strict_types=True):
    """None when equal, else a one-line reason."""
    o, s = _sorted_rows(expected), _sorted_rows(actual)
    if list(o.columns) != list(s.columns):
        return f"columns expected={list(o.columns)} got={list(s.columns)}"
    if len(o) != len(s):
        return f"rows expected={len(o)} got={len(s)}"
    if strict_types:
        bad = [(c, str(o[c].dtype), str(s[c].dtype)) for c in o.columns
               if str(o[c].dtype) != str(s[c].dtype)]
        if bad:
            return f"dtype mismatch (expected vs got): {bad}"
    try:
        pd.testing.assert_frame_equal(o, s, check_dtype=strict_types, check_exact=True)
    except AssertionError as e:
        return "value mismatch: " + " ".join(str(e).split())[:300]
    return None


def canonical(df):
    """Engine-neutral form for the Uber models: DuckDB and Spark differ in
    integer widths (RANK is BIGINT vs INT), not in values. Column names
    compare case-insensitively (Spark keeps a CTE alias's case)."""
    out = df.rename(columns=str.lower)
    for c in out.columns:
        if pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
    return out


def compare_uber(expected, actual):
    return compare(canonical(expected), canonical(actual), strict_types=False)


def planted_row_caught(expected, actual, cmp):
    """Alter one cell of a result that `cmp` accepts; `cmp` must reject it."""
    bad = actual.copy()
    if len(bad) == 0:
        return True  # nothing to alter: the row-count check covers empties
    col = bad.columns[0]
    v = bad.at[0, col]
    if isinstance(v, str):
        bad.at[0, col] = v + "~"
    elif isinstance(v, (int, float)) and not isinstance(v, bool):
        bad.at[0, col] = v + 1
    else:
        bad = bad.drop(index=0).reset_index(drop=True)
    return cmp(expected, bad) is not None


class RegistryOracle:
    """DuckDB views over the operator tables and each query's oracle result."""

    def __init__(self, data_dir, oracle_sql):
        self.con = duckdb.connect()
        for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            name = os.path.basename(p)[:-len(".parquet")]
            self.con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
        self.sql = oracle_sql
        self.cache = {}

    def expected(self, query):
        if query not in self.cache:
            self.cache[query] = self.con.sql(self.sql[query]).df()
        return self.cache[query]

    def check(self, query, out_dir):
        if query not in self.sql:
            return f"no oracle SQL for {query}"
        return compare(self.expected(query), read_parquet_dir(self.con, out_dir))

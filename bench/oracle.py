"""Independent answers for every benchmark operation, computed in DuckDB.

`kpi_api` runs the program's own oracle SQL (the strings `Kpi.*Sql`
return) over the generated tables. `month_close` has no repo oracle for
generated batches, so this module replays the closes in SQL of its own.
Every comparison goes through `compare`, imported from `tools/check.py`:
the repository's exact, column-sorted compare.
"""
import os
import sys
from pathlib import Path

import duckdb
import pyarrow as pa

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check import compare  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem".split()


def connect(data_dir, tables=TABLES):
    con = duckdb.connect()
    con.execute("SET preserve_insertion_order = false")
    con.execute("SET threads = 4")
    for t in tables:
        if os.path.exists(f"{data_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


# Spark type names of the collected columns, as Arrow types.
ARROW = {"string": pa.string(), "long": pa.int64(), "integer": pa.int32(),
         "double": pa.float64(), "boolean": pa.bool_()}


def collected(con, result):
    """A result the harness collected (schema + rows) as the DataFrame DuckDB
    would return for the same table, so both sides convert alike."""
    got = pa.table({name: pa.array([r[i] for r in result["rows"]], ARROW[typ])
                    for i, (name, typ) in enumerate(result["schema"])})
    return con.sql("SELECT * FROM got").df()


# ---- month_close: the expected published state after each close ---------

NUMERIC = ["gross", "bonus", "overtime", "taxes", "deductions", "net", "fte",
           "hours_worked"]


def _cleanse_sql(csv):
    nums = ",\n".join(f"COALESCE(TRY_CAST({c} AS DOUBLE), 0) AS {c}"
                      for c in NUMERIC)
    return f"""
      SELECT emp_id, TRIM(dept) AS dept, job_grade, location, currency,
             CAST(try_strptime(substr(month, 1, 7) || '-01', '%Y-%m-%d') AS DATE) AS month,
             {nums},
             CAST(seq AS INT) AS seq
      FROM read_csv('{csv}', header = true, all_varchar = true)"""


def close_states(batches):
    """Replay the closes in DuckDB: cleanse, keep-first dedup by `seq`,
    insert-if-absent dims with continuing ids, employee and fact upserts
    (incoming wins). Yields, after each close, the read-back the harness
    collects: KPIs per month and department over the published tables."""
    con = duckdb.connect()
    con.execute("CREATE TABLE dept (dept_id INT, dept_name VARCHAR)")
    con.execute("CREATE TABLE employees (emp_id VARCHAR, dept_id INT, "
                "job_grade VARCHAR, location VARCHAR)")
    facts_cols = "emp_id, month, " + ", ".join(NUMERIC[:6]) + \
        ", fte, hours_worked, currency"
    con.execute(f"CREATE TABLE facts AS SELECT {facts_cols} FROM "
                f"({_cleanse_sql(batches[0])}) LIMIT 0")
    for csv in batches:
        con.execute(f"CREATE OR REPLACE TEMP TABLE clean AS {_cleanse_sql(csv)}")
        con.execute("""
          INSERT INTO dept
          SELECT (SELECT COALESCE(MAX(dept_id), 0) FROM dept)
                 + row_number() OVER (ORDER BY dept), dept
          FROM (SELECT DISTINCT dept FROM clean WHERE dept IS NOT NULL)
          WHERE dept NOT IN (SELECT dept_name FROM dept)""")
        con.execute("""
          CREATE OR REPLACE TEMP TABLE emp_in AS
          SELECT e.emp_id, d.dept_id, e.job_grade, e.location
          FROM (SELECT * FROM clean
                QUALIFY row_number() OVER (PARTITION BY emp_id ORDER BY seq) = 1) e
          JOIN dept d ON e.dept = d.dept_name""")
        con.execute("DELETE FROM employees WHERE emp_id IN (SELECT emp_id FROM emp_in)")
        con.execute("INSERT INTO employees SELECT * FROM emp_in")
        con.execute(f"""
          CREATE OR REPLACE TEMP TABLE fact_in AS
          SELECT {facts_cols} FROM clean WHERE month IS NOT NULL
          QUALIFY row_number() OVER (PARTITION BY emp_id, month ORDER BY seq) = 1""")
        con.execute("""DELETE FROM facts WHERE (emp_id, month) IN
                       (SELECT (emp_id, month) FROM fact_in)""")
        con.execute("INSERT INTO facts SELECT * FROM fact_in")

        def dec(c):
            return f"CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS VARCHAR) AS {c}"
        yield con.sql(f"""
          SELECT strftime(f.month, '%Y-%m') AS month, d.dept_id, d.dept_name,
                 COUNT(*) AS n, COUNT(DISTINCT f.emp_id) AS headcount,
                 COUNT(DISTINCT e.job_grade) AS grades,
                 COUNT(DISTINCT e.location) AS locations,
                 {dec('gross')}, {dec('net')}, {dec('taxes')}, {dec('fte')},
                 {dec('hours_worked')}
          FROM facts f JOIN employees e USING (emp_id) JOIN dept d USING (dept_id)
          GROUP BY ALL""").df()

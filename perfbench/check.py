"""Output checks for the benchmark, run once per invocation and untimed.

Every reference result the JVM wrote is compared with the query
registry's oracle SQL run in DuckDB over the same generated parquet
directory, by the rules of tools/check_correctness.py (same row count,
same column names, same value kind per column, no decimal columns on the
Spark side, exact values after sorting columns and rows).

Some of the registry's oracles round differently from the Spark code they
mirror, so a correct Spark result can miss them by one ulp on some seeds.
The checks run those steps as Spark computes them (see `spark_rounding`).
"""
import os
import re

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads


def arrow_kind(t):
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bytes"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"list<{arrow_kind(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(
            f"{t.field(i).name}:{arrow_kind(t.field(i).type)}"
            for i in range(t.num_fields)) + ">"
    if pa.types.is_map(t):
        return f"map<{arrow_kind(t.key_type)},{arrow_kind(t.item_type)}>"
    return str(t)


# DuckDB inlines a CTE at every reference; some oracles reference each
# step twice per iteration and grow exponentially. Materializing every CTE
# evaluates the same SQL once per step.
CTE = re.compile(r"(\bWITH\s+(?:RECURSIVE\s+)?|,\s*)(\w+)\s+AS\s+\(", re.I)


def materialized(sql):
    return CTE.sub(lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


# Spark's exact `percentile` over the sorted non-null values: position
# (n - 1)·p; the lower value when the position is whole or both neighbours
# are equal, else (higher - pos)·lo + (pos - lower)·hi. DuckDB's
# quantile_cont interpolates in another order and can differ by one ulp.
SPARK_PERCENTILE = (
    """CREATE OR REPLACE MACRO spark_percentile_at(v, pos) AS CASE
      WHEN len(v) = 0 THEN NULL
      WHEN floor(pos) = ceil(pos)
        OR v[CAST(floor(pos) AS BIGINT) + 1] = v[CAST(ceil(pos) AS BIGINT) + 1]
        THEN CAST(v[CAST(floor(pos) AS BIGINT) + 1] AS DOUBLE)
      ELSE (ceil(pos) - pos) * v[CAST(floor(pos) AS BIGINT) + 1]
         + (pos - floor(pos)) * v[CAST(ceil(pos) AS BIGINT) + 1] END""",
    """CREATE OR REPLACE MACRO spark_percentile(x, p) AS spark_percentile_at(
      list_sort(list(x) FILTER (WHERE x IS NOT NULL)),
      (count(x) - 1) * CAST(p AS DOUBLE))""")
QUANTILE_CONT = re.compile(r"\bquantile_cont\s*\(", re.I)
# PhotonCalib.buildCrosstalkTemplate sums the eight baseline means in
# position order; the oracle's plain sum adds them in whatever order the
# parallel GROUP BY left them.
K9_BASELINE = ("sum(mv)/8", "sum(mv ORDER BY pos)/8")


def spark_rounding(op, sql):
    """The oracle SQL of op with its floating-point steps in Spark's order."""
    sql = QUANTILE_CONT.sub("spark_percentile(", sql)
    if op == "k9_crosstalk":
        sql = sql.replace(*K9_BASELINE)
    return sql


def compare(con, sql, spark_dir):
    """Problems found comparing one Spark result with its oracle SQL."""
    spark_schema = pads.dataset(spark_dir, format="parquet").schema
    sdf = con.execute(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").df()
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_result AS {materialized(sql)}")
    oracle_schema = con.execute("SELECT * FROM oracle_result").arrow().schema
    ddf = con.execute("SELECT * FROM oracle_result").df()
    problems = []
    skinds = {f.name: arrow_kind(f.type) for f in spark_schema}
    okinds = {f.name: arrow_kind(f.type).replace("decimal", "float")
              for f in oracle_schema}
    for c, k in skinds.items():
        if "decimal" in k:
            problems.append(f"spark col '{c}' is {k}")
    for c in sorted(set(skinds) & set(okinds)):
        if skinds[c] != okinds[c]:
            problems.append(f"col '{c}' kind {skinds[c]} vs {okinds[c]}")
    if len(sdf) != len(ddf):
        problems.append(f"rows {len(sdf)} vs {len(ddf)}")
    scols, dcols = sorted(sdf.columns), sorted(ddf.columns)
    if scols != dcols:
        problems.append(f"schema {scols} vs {dcols}")
    elif len(sdf) == len(ddf):
        s = sdf[scols].sort_values(scols).reset_index(drop=True)
        d = ddf[dcols].sort_values(dcols).reset_index(drop=True)
        try:
            pd.testing.assert_frame_equal(s, d, check_dtype=False, check_exact=True)
        except AssertionError as e:
            problems.append("values: " + " | ".join(str(e).split("\n")[:3]))
    return problems


def oracle_checks(data_dir, ref_dir, oracle_sql, ops, nproc, tmp_dir):
    """{op: [problems]} for every op that produced a reference result."""
    con = duckdb.connect()
    con.execute(f"SET threads = {nproc}")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for macro in SPARK_PERCENTILE:
        con.execute(macro)
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    out = {}
    for op in ops:
        spark_dir = os.path.join(ref_dir, op)
        if op not in oracle_sql:
            out[op] = ["no oracle SQL in the registry"]
        elif not os.path.isdir(spark_dir):
            out[op] = ["no successful call produced a result"]
        else:
            try:
                out[op] = compare(con, spark_rounding(op, oracle_sql[op]), spark_dir)
            except Exception as e:  # a broken comparison is a failed check
                out[op] = [f"ERROR: {e}"]
    return out


"""Driver-contract queries: one entry per implemented operator (SURVEY.md §2
+ the LLM-pipeline operators), each paired with a DuckDB oracle.

Every Spark query here exercises the REAL engine operators (checks, rule
compiler, joins, spines, dedup, similarity) against the driver's TPC-H-ish
testdata, mapped per FIXTURES.md §B. The oracle SQL expresses the same
semantics independently in ANSI SQL.

Hash-safety rules used throughout (the driver compares row-count + schema +
order-insensitive value hash):
- float aggregations go through DECIMAL (exact, order-independent) and cast
  to DOUBLE at the end;
- per-row double arithmetic is IEEE-identical across engines;
- cosine similarities are ranked on round(sim, 12) (kills last-ulp
  accumulation skew) and emitted rounded to 6 decimals;
- no double→string casts of values ≥1e7 (Spark prints scientific notation,
  DuckDB does not).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.functions.checks import (
    CheckExpr,
    assay_special,
    check_date,
    check_icd10,
    check_id_field,
    check_if_number,
    check_if_string,
    check_if_substr,
    check_in_list,
    compare_total_to_live,
    compare_viability,
    get_missing_values,
)
from nci_seronet_proc_data_validator_spark.operators.joins import (
    icd10_flag_join,
    outer_join_spine,
    present,
)
from nci_seronet_proc_data_validator_spark.operators.typing import with_typed_shadows
from nci_seronet_proc_data_validator_spark.plans.rules import (
    ColumnRules,
    compile_sheet_findings,
    dup_id_findings,
)
from nci_seronet_proc_data_validator_spark.sources.readers import read_table


def _as_sheet(df: DataFrame, row_index_col: str,
              value_cols: list[str]) -> DataFrame:
    """Shape a testdata table like an ingested sheet: long row_index + raw
    string value columns (+ typed shadows). Deliberately NO repartition:
    the findings scan must stay map-only (plan-shape invariant); bench
    wraps inputs with its own ``_spread`` where local single-file scans
    would serialize."""
    cols = [F.col(row_index_col).cast("long").alias("row_index")]
    cols += [F.col(c).cast("string").alias(c) for c in value_cols]
    return with_typed_shadows(df.select(*cols))


def _findings(df: DataFrame, sheet: str, column: str,
              checks: list[CheckExpr]) -> DataFrame:
    return compile_sheet_findings(
        df, sheet, [ColumnRules(column=column, checks=checks)])


# ---------------------------------------------------------------- C1 / P4 / P6
def q_c1_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    sheet = _as_sheet(orders, "o_orderkey", ["o_orderstatus"])
    return _findings(sheet, "orders.csv", "o_orderstatus",
                     check_in_list("o_orderstatus", ["O", "F"]))


SQL_C1 = """
SELECT 'Error' AS Message_Type, 'orders.csv' AS CSV_Sheet_Name,
       o_orderkey AS Row_Index, 'o_orderstatus' AS Column_Name,
       CAST(o_orderstatus AS VARCHAR) AS Column_Value,
       'Unexpected Value.  Value must be one of the following: [''O'', ''F'']'
         AS Error_Message
FROM orders
WHERE o_orderstatus NOT IN ('O', 'F') AND o_orderstatus <> ''
"""


# ------------------------------------------------------------------------- C3
def q_c3_number_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    sheet = _as_sheet(cust, "c_custkey", ["c_acctbal"])
    return _findings(sheet, "customer.csv", "c_acctbal",
                     check_if_number("c_acctbal", 0, 9000, False, "float"))


SQL_C3 = """
SELECT 'Error' AS Message_Type, 'customer.csv' AS CSV_Sheet_Name,
       c_custkey AS Row_Index, 'c_acctbal' AS Column_Name,
       CAST(c_acctbal AS VARCHAR) AS Column_Value,
       'Value must be a number between 0 and 9000' AS Error_Message
FROM customer
WHERE c_acctbal < 0 OR c_acctbal > 9000
"""


def q_c3_int_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    sheet = _as_sheet(part, "p_partkey", ["p_size"])
    return _findings(sheet, "part.csv", "p_size",
                     check_if_number("p_size", 1, 25, False, "int"))


SQL_C3_INT = """
SELECT 'Error' AS Message_Type, 'part.csv' AS CSV_Sheet_Name,
       p_partkey AS Row_Index, 'p_size' AS Column_Name,
       CAST(p_size AS VARCHAR) AS Column_Value,
       'Value must be an interger between 1 and 25, decimal values are not allowed'
         AS Error_Message
FROM part
WHERE p_size < 1 OR p_size > 25
"""


# ------------------------------------------------------------------------- C5
def q_c5_id_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CBC-prefix semantics mapped onto nations: each customer's 'lab' is
    its nation key; our submission's CBC is 14."""
    cust = read_table(spark, sf_dir, "customer")
    ids = cust.select(
        F.col("c_custkey").cast("long").alias("row_index"),
        F.concat(F.lpad(F.col("c_nationkey").cast("string"), 2, "0"),
                 F.lit("_"),
                 F.lpad((F.col("c_custkey") % 1000000).cast("string"), 6, "0")
                 ).alias("participant_id"))
    ids = with_typed_shadows(ids)
    return _findings(ids, "customer.csv", "participant_id",
                     check_id_field("participant_id", "[_]{1}[0-9]{6}$",
                                    "14", "XX_XXXXXX"))


SQL_C5 = """
WITH ids AS (
  SELECT c_custkey,
         lpad(CAST(c_nationkey AS VARCHAR), 2, '0') || '_'
           || lpad(CAST(c_custkey % 1000000 AS VARCHAR), 6, '0') AS pid
  FROM customer)
SELECT 'Error' AS Message_Type, 'customer.csv' AS CSV_Sheet_Name,
       c_custkey AS Row_Index, 'participant_id' AS Column_Name,
       pid AS Column_Value,
       'ID is Valid however has wrong CBC code. Expecting CBC Code (14)'
         AS Error_Message
FROM ids
WHERE NOT regexp_matches(pid, '^14[_]{1}[0-9]{6}$')
  AND regexp_matches(pid, '^[0-9]{2}[_]{1}[0-9]{6}$')
"""


# -------------------------------------------------------------------- C6 / A1
def q_c6_dup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    sheet = orders.select(F.col("o_custkey").cast("string").alias("o_custkey"))
    return dup_id_findings(sheet, "orders.csv", "o_custkey")


SQL_C6 = """
SELECT 'Error' AS Message_Type, 'orders.csv' AS CSV_Sheet_Name,
       CAST(-3 AS BIGINT) AS Row_Index, 'o_custkey' AS Column_Name,
       CAST(o_custkey AS VARCHAR) AS Column_Value,
       'Id is repeated ' || CAST(count(*) AS VARCHAR)
         || ' times, Multiple repeats are not allowed' AS Error_Message
FROM orders
GROUP BY o_custkey
HAVING count(*) > 1
"""


# ------------------------------------------------------------------------- C2
def q_c2_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    sheet = _as_sheet(orders, "o_orderkey", ["o_orderdate"])
    return _findings(sheet, "orders.csv", "o_orderdate",
                     check_date("o_orderdate", datetime.date(1996, 1, 1),
                                datetime.date(1997, 12, 31), False, "Date"))


SQL_C2 = """
SELECT 'Error' AS Message_Type, 'orders.csv' AS CSV_Sheet_Name,
       o_orderkey AS Row_Index, 'o_orderdate' AS Column_Name,
       CAST(o_orderdate AS VARCHAR) AS Column_Value,
       'Date is valid however must be between 1996-01-01 and 1997-12-31'
         AS Error_Message
FROM orders
WHERE CAST(o_orderdate AS DATE) < DATE '1996-01-01'
   OR CAST(o_orderdate AS DATE) > DATE '1997-12-31'
"""


# ------------------------------------------------------------------------- C7
def q_c7_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    sheet = _as_sheet(cust, "c_custkey", ["c_nationkey", "c_name"])
    return _findings(sheet, "customer.csv", "c_name",
                     check_if_substr("c_name", "c_nationkey", "c_name"))


SQL_C7 = """
SELECT 'Error' AS Message_Type, 'customer.csv' AS CSV_Sheet_Name,
       c_custkey AS Row_Index, 'c_name' AS Column_Name,
       c_name AS Column_Value,
       'c_nationkey is not a substring of c_name.  Data is not Valid, please check data'
         AS Error_Message
FROM customer
WHERE NOT contains(c_name, CAST(c_nationkey AS VARCHAR)) AND c_name <> ''
"""


# -------------------------------------------------------------------- C8 / J8
_VALID_SEGMENTS = ["BUILDING", "FURNITURE", "MACHINERY"]


def q_c8_dict_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICD-10-style broadcast dictionary validation, dictionary = allowed
    market segments."""
    cust = read_table(spark, sf_dir, "customer")
    sheet = _as_sheet(cust, "c_custkey", ["c_mktsegment"])
    from nci_seronet_proc_data_validator_spark.errors import local_rows_df
    codes = local_rows_df(spark, [(c,) for c in _VALID_SEGMENTS],
                          "code string")
    sheet = icd10_flag_join(sheet, "c_mktsegment", codes,
                            "c_mktsegment__icd10_valid")
    return _findings(sheet, "customer.csv", "c_mktsegment",
                     check_icd10("c_mktsegment", "c_mktsegment__icd10_valid"))


SQL_C8 = """
SELECT 'Error' AS Message_Type, 'customer.csv' AS CSV_Sheet_Name,
       c_custkey AS Row_Index, 'c_mktsegment' AS Column_Name,
       c_mktsegment AS Column_Value,
       'Invalid or unknown ICD10 code, Value must be Valid ICD10 code or N/A'
         AS Error_Message
FROM customer
WHERE c_mktsegment NOT IN ('BUILDING', 'FURNITURE', 'MACHINERY')
  AND c_mktsegment <> 'N/A' AND c_mktsegment <> ''
"""


# -------------------------------------------------------------------- A2
def q_a2_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Findings summary pivot: per-segment Errors (acctbal > 9000) and
    Warnings (acctbal < 500), exercising the severity pivot (A2)."""
    from nci_seronet_proc_data_validator_spark.errors import findings_summary
    cust = read_table(spark, sf_dir, "customer")
    sheet = with_typed_shadows(
        cust.select(F.col("c_custkey").cast("long").alias("row_index"),
                    F.col("c_mktsegment").cast("string").alias("seg"),
                    F.col("c_acctbal").cast("string").alias("c_acctbal")))
    checks = [
        CheckExpr(F.col("c_acctbal__num") > 9000, "balance too high", "Error"),
        CheckExpr(F.col("c_acctbal__num") < 500, "balance low", "Warning"),
    ]
    # Route through the real compiler path (sheet label is the per-row
    # segment column) so the oracle proves the engine, not a re-implementation.
    findings = compile_sheet_findings(
        sheet, F.col("seg"), [ColumnRules("c_acctbal", checks)])
    wide = findings_summary(findings)
    # Round-trip through unpivot (relational melt) and re-pivot via
    # conditional aggregation: the output schema/values are unchanged
    # (the oracle below is untouched) but the unpivot operator now sits
    # in the value path — if it mangled rows the hashes would diverge.
    long = wide.unpivot("CSV_Sheet_Name", ["Errors", "Warnings"],
                        "severity", "n")
    back = (long.groupBy("CSV_Sheet_Name")
            .agg(F.coalesce(F.sum(F.when(F.col("severity") == "Errors",
                                         F.col("n"))), F.lit(0))
                 .alias("Errors"),
                 F.coalesce(F.sum(F.when(F.col("severity") == "Warnings",
                                         F.col("n"))), F.lit(0))
                 .alias("Warnings")))
    return back.orderBy("CSV_Sheet_Name")


SQL_A2 = """
SELECT c_mktsegment AS CSV_Sheet_Name,
       count(*) FILTER (WHERE c_acctbal > 9000) AS Errors,
       count(*) FILTER (WHERE c_acctbal < 500) AS Warnings
FROM customer
WHERE c_acctbal > 9000 OR c_acctbal < 500
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# -------------------------------------------------------------- J1/J2 enrich
def q_j1_enrich_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1).cast("decimal(18,4)")
              - F.col("l_discount").cast("decimal(18,4)")))
    return (li
            .join(orders.select("o_orderkey", "o_custkey"),
                  li.l_orderkey == F.col("o_orderkey"), "left")
            .join(F.broadcast(cust.select("c_custkey", "c_mktsegment")),
                  F.col("o_custkey") == F.col("c_custkey"), "left")
            .groupBy("c_mktsegment")
            .agg(F.sum(rev).cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_items"))
            .orderBy("c_mktsegment"))


SQL_J1 = """
SELECT c_mktsegment,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
LEFT JOIN orders ON l_orderkey = o_orderkey
LEFT JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# ----------------------------------------------------- J3–J5 presence spine
def q_j3_presence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⟗ P-status orders with indicator columns → pattern counts
    (exercises outer_join_spine + presence decoding)."""
    cust = read_table(spark, sf_dir, "customer") \
        .select(F.col("c_custkey").alias("custkey")).distinct()
    p_orders = (read_table(spark, sf_dir, "orders")
                .filter(F.col("o_orderstatus") == "P")
                .select(F.col("o_custkey").alias("custkey")).distinct())
    spine = outer_join_spine({"customer": cust, "orders_p": p_orders},
                             "custkey")
    pattern = (F.when(present("customer") & ~present("orders_p"),
                      "customer_without_p_order")
               .when(~present("customer") & present("orders_p"),
                     "p_order_without_customer")
               .otherwise("both"))
    return (spine.select(pattern.alias("pattern"))
            .groupBy("pattern").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("pattern"))


SQL_J3 = """
WITH c AS (SELECT DISTINCT c_custkey AS custkey FROM customer),
     o AS (SELECT DISTINCT o_custkey AS custkey FROM orders
           WHERE o_orderstatus = 'P')
SELECT CASE WHEN c.custkey IS NOT NULL AND o.custkey IS NULL
              THEN 'customer_without_p_order'
            WHEN c.custkey IS NULL AND o.custkey IS NOT NULL
              THEN 'p_order_without_customer'
            ELSE 'both' END AS pattern,
       count(*) AS n
FROM c FULL OUTER JOIN o ON c.custkey = o.custkey
GROUP BY 1 ORDER BY 1
"""


# ------------------------------------------------------------- J6 / P8 anti
def q_j6_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    p_orders = (read_table(spark, sf_dir, "orders")
                .filter(F.col("o_orderstatus") == "P"))
    return (cust.join(p_orders, cust.c_custkey == p_orders.o_custkey,
                      "left_anti")
            .select("c_custkey").orderBy("c_custkey"))


SQL_J6 = """
SELECT c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
ORDER BY c_custkey
"""


# ----------------------------------------------------------------- A3/A4/A5
def q_a4_count_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    n_cust = cust.agg(F.count(F.lit(1)).alias("declared"))
    n_active = orders.agg(
        F.countDistinct("o_custkey").alias("distinct_with_orders"))
    return (n_cust.crossJoin(n_active)
            .withColumn("matches",
                        F.col("declared") == F.col("distinct_with_orders")))


SQL_A4 = """
SELECT (SELECT count(*) FROM customer) AS declared,
       (SELECT count(DISTINCT o_custkey) FROM orders) AS distinct_with_orders,
       (SELECT count(*) FROM customer)
         = (SELECT count(DISTINCT o_custkey) FROM orders) AS matches
"""


# ------------------------------------------------------------------ O1–O3
def q_o3_union_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    a = (cust.filter(F.col("c_mktsegment") == "BUILDING")
         .select("c_custkey", "c_mktsegment")
         .withColumn("slice", F.lit("A")))
    b = (cust.filter(F.col("c_acctbal") > 9500)
         .select("c_custkey", "c_mktsegment")
         .withColumn("slice", F.lit("B")))
    return a.unionByName(b).orderBy("slice", "c_custkey")


SQL_O3 = """
SELECT c_custkey, c_mktsegment, 'A' AS slice FROM customer
WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT c_custkey, c_mktsegment, 'B' AS slice FROM customer
WHERE c_acctbal > 9500
ORDER BY slice, c_custkey
"""


# ----------------------- §2.6 remaining checks (C4, C9–C12) + A6 + J4 -----
def q_c4_string_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 ``check_if_string`` over a genuinely mixed-type column: every 3rd
    value is a clean string, the rest coerce to number / date and flag."""
    orders = read_table(spark, sf_dir, "orders")
    mixed = (F.when(F.col("o_orderkey") % 3 == 1,
                    F.col("o_custkey").cast("string"))
             .when(F.col("o_orderkey") % 3 == 2,
                   F.col("o_orderdate").cast("string"))
             .otherwise(F.col("o_orderpriority")))
    sheet = with_typed_shadows(
        orders.select(F.col("o_orderkey").cast("long").alias("row_index"),
                      mixed.alias("mixed_value")))
    return _findings(sheet, "orders.csv", "mixed_value",
                     check_if_string("mixed_value"))


SQL_C4 = """
WITH s AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 1 THEN CAST(o_custkey AS VARCHAR)
              WHEN o_orderkey % 3 = 2 THEN CAST(o_orderdate AS VARCHAR)
              ELSE o_orderpriority END AS v
  FROM orders)
SELECT 'Error' AS Message_Type, 'orders.csv' AS CSV_Sheet_Name,
       o_orderkey AS Row_Index, 'mixed_value' AS Column_Name,
       v AS Column_Value,
       'Value must be a string and NOT N/A' AS Error_Message
FROM s
WHERE (TRY_CAST(v AS DOUBLE) IS NOT NULL
       OR (regexp_matches(v, '^[0-9]{1,4}[-/:]')
           AND TRY_CAST(v AS TIMESTAMP) IS NOT NULL))
  AND v <> '' AND NOT contains(v, '_')
"""


def q_c9_assay_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 ``assay_special``: broadcast left join against the valid-assay
    reference (BUILDING customers); unresolved values flag."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    valid = (cust.filter(F.col("c_mktsegment") == "BUILDING")
             .select(F.col("c_custkey").cast("string").alias("resolved_key"))
             .distinct())
    sheet = with_typed_shadows(
        orders.select(F.col("o_orderkey").cast("long").alias("row_index"),
                      F.col("o_custkey").cast("string").alias("o_custkey")))
    joined = sheet.join(F.broadcast(valid),
                        sheet.o_custkey == valid.resolved_key, "left")
    return _findings(joined, "orders.csv", "o_custkey",
                     assay_special("o_custkey", "resolved_key", "o_custkey"))


SQL_C9 = """
SELECT 'Error' AS Message_Type, 'orders.csv' AS CSV_Sheet_Name,
       o_orderkey AS Row_Index, 'o_custkey' AS Column_Name,
       CAST(o_custkey AS VARCHAR) AS Column_Value,
       'o_custkey is not found in the table of valid o_custkeys in databse or submitted file'
         AS Error_Message
FROM orders
WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                        WHERE c_mktsegment = 'BUILDING')
"""


def q_c10_live_le_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10 ``compare_total_to_live``: Live_Cells > Total_Cells flags (column
    pairing by name substitution)."""
    li = read_table(spark, sf_dir, "lineitem")
    sheet = with_typed_shadows(li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber"))
        .cast("long").alias("row_index"),
        F.col("l_quantity").cast("long").cast("string")
        .alias("Total_Cells_Count"),
        F.col("l_linenumber").cast("string").alias("Live_Cells_Count")))
    return _findings(sheet, "lineitem.csv", "Total_Cells_Count",
                     compare_total_to_live("Total_Cells_Count"))


SQL_C10 = """
SELECT 'Error' AS Message_Type, 'lineitem.csv' AS CSV_Sheet_Name,
       l_orderkey * 8 + l_linenumber AS Row_Index,
       'Total_Cells_Count' AS Column_Name,
       CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS Column_Value,
       'Live Cell Count must be less than Total Cell Count' AS Error_Message
FROM lineitem
WHERE CAST(l_linenumber AS DOUBLE) > CAST(l_quantity AS DOUBLE)
"""


def q_c11_viability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11 ``compare_viability``: viability != round(live/total*100, 1).
    Odd orderkeys carry a planted '.5' offset and flag; values are built
    from integer casts so both engines print identical strings."""
    li = read_table(spark, sf_dir, "lineitem")
    viab = F.concat(
        (F.col("l_linenumber") * 5).cast("string"),
        F.when(F.col("l_orderkey") % 2 == 1, ".5").otherwise(""))
    sheet = with_typed_shadows(li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber"))
        .cast("long").alias("row_index"),
        F.lit("20").alias("Total_Cells_Count"),
        F.col("l_linenumber").cast("string").alias("Live_Cells_Count"),
        viab.alias("Viability_Count")))
    return _findings(sheet, "lineitem.csv", "Viability_Count",
                     compare_viability("Viability_Count"))


SQL_C11 = """
WITH s AS (
  SELECT l_orderkey * 8 + l_linenumber AS rk,
         CAST(l_linenumber AS DOUBLE) AS live,
         CAST(l_linenumber * 5 AS VARCHAR)
           || CASE WHEN l_orderkey % 2 = 1 THEN '.5' ELSE '' END AS viab
  FROM lineitem)
SELECT 'Error' AS Message_Type, 'lineitem.csv' AS CSV_Sheet_Name,
       rk AS Row_Index, 'Viability_Count' AS Column_Name,
       viab AS Column_Value,
       'Viability Count must be equal to (Live_Count / Total_Count) * 100'
         AS Error_Message
FROM s
WHERE round(live / 20 * 100, 1) <> CAST(viab AS DOUBLE)
"""


def q_c12_missing_sars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12 ``get_missing_values`` with the 'Yes: SARS-Positive' conditional:
    blanks are Errors in the Positive cohort, Warnings in the Negative."""
    orders = read_table(spark, sf_dir, "orders")
    sars = (F.when(F.col("o_orderstatus") == "F", "Negative")
            .otherwise("Positive"))
    val = (F.when(F.col("o_orderkey") % 7 == 0, "")
           .otherwise(F.col("o_orderpriority")))
    sheet = with_typed_shadows(orders.select(
        F.col("o_orderkey").cast("long").alias("row_index"),
        sars.alias("SARS_CoV_2_PCR_Test_Result"),
        val.alias("Symptom_Onset")))
    return _findings(sheet, "orders.csv", "Symptom_Onset",
                     get_missing_values("Symptom_Onset", "Yes: SARS-Positive"))


SQL_C12 = """
WITH s AS (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'F' THEN 'Negative'
              ELSE 'Positive' END AS sars,
         CASE WHEN o_orderkey % 7 = 0 THEN ''
              ELSE o_orderpriority END AS v
  FROM orders)
SELECT CASE WHEN sars = 'Positive' THEN 'Error' ELSE 'Warning' END
         AS Message_Type,
       'orders.csv' AS CSV_Sheet_Name,
       o_orderkey AS Row_Index, 'Symptom_Onset' AS Column_Name,
       '' AS Column_Value,
       CASE WHEN sars = 'Positive'
            THEN 'This column is requred for Sars Positive Patients, missing values are not allowed.  Please recheck data'
            ELSE 'Missing Values where found, this is a warning.  Please recheck data'
         END AS Error_Message
FROM s WHERE v = ''
"""


def q_a6_dedup_findings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 ``dedup_findings``: exact duplicates collapse, but the same
    finding on a DIFFERENT sheet survives (the keyed-per-sheet fix of
    reference bug §2.9(5))."""
    from nci_seronet_proc_data_validator_spark.errors import (
        dedup_findings,
        union_findings,
    )
    base = q_c1_in_list(spark, sf_dir)
    other_sheet = base.withColumn("CSV_Sheet_Name", F.lit("orders_copy.csv"))
    return dedup_findings(union_findings([base, other_sheet, base]))


SQL_A6 = f"""
WITH base AS ({SQL_C1})
SELECT * FROM base
UNION
SELECT Message_Type, 'orders_copy.csv' AS CSV_Sheet_Name, Row_Index,
       Column_Name, Column_Value, Error_Message
FROM base
"""


def q_j4_bio_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/J5: biospecimen ⟗ aliquot/equipment/reagent/consumable spine with
    presence indicators → the 4 per-table patterns (keep-first across
    tables), exercising outer_join_spine + biospecimen_cross_findings."""
    from nci_seronet_proc_data_validator_spark.operators.joins import (
        biospecimen_cross_findings,
    )
    part = read_table(spark, sf_dir, "part")
    k = F.col("k")
    ids = part.select(
        F.concat(F.lit("14_"),
                 F.lpad((F.col("p_partkey") % 1000000).cast("string"), 6, "0"),
                 F.lit("_001")).alias("Biospecimen_ID"),
        F.col("p_partkey").alias("k"))
    bio = (ids.filter(k % 5 != 0)
           .select("Biospecimen_ID",
                   F.when(k % 3 == 0, "PBMC").otherwise("Serum")
                   .alias("Biospecimen_Type")))
    spine = outer_join_spine(
        {"biospecimen.csv": bio,
         "aliquot.csv": ids.filter(k % 2 == 0).select("Biospecimen_ID"),
         "equipment.csv": ids.filter(k % 7 != 3).select("Biospecimen_ID"),
         "reagent.csv": ids.select("Biospecimen_ID"),
         "consumable.csv": ids.filter(k % 11 != 0).select("Biospecimen_ID")},
        "Biospecimen_ID")
    return (biospecimen_cross_findings(spine, "14")
            .orderBy("Column_Value"))


SQL_J4 = """
WITH f AS (
  SELECT '14_' || lpad(CAST(p_partkey % 1000000 AS VARCHAR), 6, '0') || '_001'
           AS bid,
         (p_partkey % 5 <> 0) AS in_bio,
         (p_partkey % 2 = 0) AS in_al,
         (p_partkey % 7 <> 3) AS in_eq,
         TRUE AS in_re,
         (p_partkey % 11 <> 0) AS in_co,
         (p_partkey % 5 <> 0 AND p_partkey % 3 = 0) AS pbmc
  FROM part),
m AS (
  SELECT bid, CASE
    WHEN in_al AND NOT in_bio
      THEN 'ID is found in Aliquot.csv, however ID is missing from Biospecimen.csv'
    WHEN in_bio AND NOT in_al
      THEN 'ID is found in Biospecimen.csv, however is missing from Aliquot.csv'
    WHEN in_eq AND NOT in_bio
      THEN 'ID is found in Equipment.csv, however ID is missing from Biospecimen.csv'
    WHEN in_eq AND in_bio AND NOT pbmc
      THEN 'ID is found in Equipment.csv, and ID is found in Biospecimen.csv however has Biospecimen_Type NOT PBMC'
    WHEN NOT in_eq AND in_bio AND pbmc
      THEN 'ID is found in Biospecimen.csv and has Biospecimen_Type of PBMC, however ID is missing from Equipment.csv'
    WHEN in_re AND NOT in_bio
      THEN 'ID is found in Reagent.csv, however ID is missing from Biospecimen.csv'
    WHEN in_re AND in_bio AND NOT pbmc
      THEN 'ID is found in Reagent.csv, and ID is found in Biospecimen.csv however has Biospecimen_Type NOT PBMC'
    WHEN NOT in_re AND in_bio AND pbmc
      THEN 'ID is found in Biospecimen.csv and has Biospecimen_Type of PBMC, however ID is missing from Reagent.csv'
    WHEN in_co AND NOT in_bio
      THEN 'ID is found in Consumable.csv, however ID is missing from Biospecimen.csv'
    WHEN in_co AND in_bio AND NOT pbmc
      THEN 'ID is found in Consumable.csv, and ID is found in Biospecimen.csv however has Biospecimen_Type NOT PBMC'
    WHEN NOT in_co AND in_bio AND pbmc
      THEN 'ID is found in Biospecimen.csv and has Biospecimen_Type of PBMC, however ID is missing from Consumable.csv'
    END AS msg
  FROM f
  WHERE NOT (in_bio AND in_al AND in_eq AND in_re AND in_co))
SELECT 'Error' AS Message_Type, 'Cross_Biospecimen_ID.csv' AS CSV_Sheet_Name,
       CAST(-10 AS BIGINT) AS Row_Index, 'Biospecimen_ID' AS Column_Name,
       bid AS Column_Value, msg AS Error_Message
FROM m WHERE msg IS NOT NULL
ORDER BY Column_Value
"""


# ============================ LLM-pipeline operators ======================
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash: canonical doc per md5 group."""
    docs = read_table(spark, sf_dir, "documents")
    return (docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count(F.lit(1)).alias("n_copies"))
            .orderBy("content_hash"))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY 1
"""


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup by normalization: lowercase, strip non-alphanumerics,
    collapse whitespace — catches formatting-only duplicates."""
    docs = read_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
        " +", " ")
    return (docs.groupBy(F.md5(norm).alias("norm_hash"))
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count(F.lit(1)).alias("n_copies"))
            .orderBy("norm_hash"))


SQL_DEDUP_NORM = """
SELECT md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                          ' +', ' ', 'g')) AS norm_hash,
       min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY 1
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality features + 64-bit content fingerprint of
    the normalized text + the whitespace-vs-BPE token-budget estimate
    (``operators/text_quality.bpe_token_counts``) + the per-document
    stopword-profile language prediction (the lang-id operator — its
    confusion-matrix form is ``q_lang_id``, this keeps the per-doc
    primitive driver-checked in the same map-only profile scan), all
    JVM-side regex — one scan covers stats, fingerprint, token-count and
    lang-id, plus the winnowing (MOSS) substring-level fingerprint
    (``text_quality.winnow_signature``)."""
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        BPE_PATTERN, with_winnow_signature)
    docs = with_winnow_signature(read_table(spark, sf_dir, "documents"))
    norm = F.regexp_replace(F.lower(F.col("text")), "[ \\t\\n\\f\\r]+", " ")

    def n(pat):
        return F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0))
    n_en = n(r"\b(the|and|of|to|in)\b")
    n_de = n(r"\b(der|die|das|und|ist)\b")
    n_es = n(r"\b(el|la|los|las|es)\b")
    n_fr = n(r"\b(le|les|et|est|une)\b")
    pred = (F.when((n_en >= n_de) & (n_en >= n_es) & (n_en >= n_fr), "en")
            .when((n_de >= n_es) & (n_de >= n_fr), "de")
            .when(n_es >= n_fr, "es")
            .otherwise("fr"))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z0-9]+"),
                                    0)).cast("long").alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.,;:!?]"),
                                    0)).cast("long").alias("n_punct"),
        (F.length("text") < 100).alias("is_short"),
        F.substring(F.md5(norm), 1, 16).alias("fingerprint"),
        F.size(F.expr("filter(split(text, ' +'), x -> x != '')"))
        .cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN),
                                    0)).cast("long").alias("n_bpe_tokens"),
        pred.alias("predicted_lang"),
        "winnow_sig",
    ).orderBy("doc_id")


def _sql_text_stats() -> str:
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        BPE_PATTERN, winnow_grams_oracle_expr, winnow_sig_oracle_expr)
    pat = BPE_PATTERN.replace("'", "''")
    winnow = winnow_sig_oracle_expr("_wg")
    grams = winnow_grams_oracle_expr("text")
    return r"""
SELECT doc_id, length(text) AS n_chars_actual,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
       length(text) < 100 AS is_short,
       substr(md5(regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g')), 1, 16)
         AS fingerprint,
       CAST(len(list_filter(string_split_regex(text, ' +'), x -> x <> ''))
            AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '""" + pat + r"""')) AS BIGINT)
         AS n_bpe_tokens,
       CASE WHEN len(regexp_extract_all(text, '\b(the|and|of|to|in)\b'))
                 >= len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b'))
             AND len(regexp_extract_all(text, '\b(the|and|of|to|in)\b'))
                 >= len(regexp_extract_all(text, '\b(el|la|los|las|es)\b'))
             AND len(regexp_extract_all(text, '\b(the|and|of|to|in)\b'))
                 >= len(regexp_extract_all(text, '\b(le|les|et|est|une)\b'))
            THEN 'en'
            WHEN len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b'))
                 >= len(regexp_extract_all(text, '\b(el|la|los|las|es)\b'))
             AND len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b'))
                 >= len(regexp_extract_all(text, '\b(le|les|et|est|une)\b'))
            THEN 'de'
            WHEN len(regexp_extract_all(text, '\b(el|la|los|las|es)\b'))
                 >= len(regexp_extract_all(text, '\b(le|les|et|est|une)\b'))
            THEN 'es'
            ELSE 'fr' END AS predicted_lang,
       """ + winnow + r""" AS winnow_sig
FROM (SELECT d.*, """ + grams + r""" AS _wg FROM documents d)
ORDER BY doc_id
"""


SQL_TEXT_STATS = _sql_text_stats()


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID vs the labeled ``lang`` column →
    confusion counts."""
    docs = read_table(spark, sf_dir, "documents")
    def n(pat):
        return F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0))
    n_en = n(r"\b(the|and|of|to|in)\b")
    n_de = n(r"\b(der|die|das|und|ist)\b")
    n_es = n(r"\b(el|la|los|las|es)\b")
    n_fr = n(r"\b(le|les|et|est|une)\b")
    pred = (F.when((n_en >= n_de) & (n_en >= n_es) & (n_en >= n_fr), "en")
            .when((n_de >= n_es) & (n_de >= n_fr), "de")
            .when(n_es >= n_fr, "es")
            .otherwise("fr"))
    return (docs.select(F.col("lang"), pred.alias("predicted"))
            .groupBy("lang", "predicted").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("lang", "predicted"))


SQL_LANG_ID = r"""
WITH scored AS (
  SELECT lang,
         len(regexp_extract_all(text, '\b(the|and|of|to|in)\b')) AS n_en,
         len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS n_de,
         len(regexp_extract_all(text, '\b(el|la|los|las|es)\b')) AS n_es,
         len(regexp_extract_all(text, '\b(le|les|et|est|une)\b')) AS n_fr
  FROM documents)
SELECT lang,
       CASE WHEN n_en >= n_de AND n_en >= n_es AND n_en >= n_fr THEN 'en'
            WHEN n_de >= n_es AND n_de >= n_fr THEN 'de'
            WHEN n_es >= n_fr THEN 'es'
            ELSE 'fr' END AS predicted,
       count(*) AS n
FROM scored GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: 64-bit content fingerprint of the
    normalized text (hex prefix of md5)."""
    docs = read_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "[ \\t\\n\\f\\r]+", " ")
    return docs.select(
        "doc_id",
        F.substring(F.md5(norm), 1, 16).alias("fingerprint"),
    ).orderBy("doc_id")


SQL_FINGERPRINT = r"""
SELECT doc_id,
       substr(md5(regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g')), 1, 16)
         AS fingerprint
FROM documents ORDER BY doc_id
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document quality features + composite gate
    (map-only array algebra; see operators/text_quality.py)."""
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        quality_features)
    docs = read_table(spark, sf_dir, "documents")
    return quality_features(docs).orderBy("doc_id")


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document bigram repetition detection (explode + two keyed
    aggregations; see operators/text_quality.py)."""
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        repetition_features)
    docs = read_table(spark, sf_dir, "documents")
    return repetition_features(docs).orderBy("doc_id")


def q_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram familiarity score — the integer-exact LM-perplexity
    stand-in (see operators/text_quality.familiarity_features)."""
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        familiarity_features)
    docs = read_table(spark, sf_dir, "documents")
    return familiarity_features(docs).orderBy("doc_id")


def q_repetition_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition + corpus-bigram familiarity fused into
    ONE bigram pass (operators/text_quality.bigram_profile) — profiling a
    corpus with both signals must not scan the text twice — plus the
    CCNet head/middle/tail perplexity tercile per language
    (``text_quality.ccnet_buckets``)."""
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        ccnet_buckets)
    docs = read_table(spark, sf_dir, "documents")
    return ccnet_buckets(docs).orderBy("doc_id")


def q_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document curation profile in ONE result row per doc:
    Gopher-style quality gates (``quality_features``) joined with the
    fused bigram repetition/familiarity pass and the CCNet perplexity
    tercile (``ccnet_buckets``). Registry fusion of the former
    ``quality_score`` + ``repetition_familiarity`` entries — same two
    pipelines, one doc_id-keyed join (both sides per-doc, one shuffle)."""
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        ccnet_buckets, quality_features)
    docs = read_table(spark, sf_dir, "documents")
    return (quality_features(docs)
            .join(ccnet_buckets(docs), "doc_id")
            .orderBy("doc_id"))


def q_substr_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style substring-duplication pairs via winnowing
    fingerprints (operators/dedup.substr_dup_pairs): any two documents
    sharing a verbatim run of >= k + w - 1 chars are guaranteed to share
    a selected fingerprint; pairs are generated inside fingerprint
    buckets (df-capped), never by posting self-join."""
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        substr_dup_pairs)
    docs = read_table(spark, sf_dir, "documents")
    # k=20/w=8: any shared verbatim run >= 27 chars is guaranteed a
    # common fingerprint; min_shared=4 keeps pairs with substantial
    # duplicated spans, not one lucky phrase.
    return (substr_dup_pairs(docs, k=20, w=8, min_shared=4, max_df=64)
            .orderBy("id_a", "id_b"))


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed-bigram importance of every document w.r.t. the
    English slice (``lang = 'en'`` as the target domain) — the
    "make the crawl look like the target corpus" data-selection
    primitive (operators/importance.py). Integer-exact Σ-ratio scoring;
    two keyed shuffles + one bounded broadcast, corpus-size-independent.
    """
    from nci_seronet_proc_data_validator_spark.operators.importance import (
        hashed_ngram_importance)
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        spread_small_input)
    docs = spread_small_input(read_table(spark, sf_dir, "documents"))
    return (hashed_ngram_importance(docs, F.col("lang") == "en",
                                    n=2, buckets=4096)
            .orderBy("doc_id"))


def q_doc_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based per-document scoring in one result: DSIR hashed-bigram
    importance w.r.t. the English slice PLUS hashed-linear classifier
    inference (fastText-style, model-as-literal — see
    operators/classifier.py). Registry fusion of the former
    ``dsir_importance`` entry with the round-4 classifier operator —
    both score every doc against a model, one doc_id join."""
    from nci_seronet_proc_data_validator_spark.operators.classifier import (
        demo_weights, hashed_linear_score)
    from nci_seronet_proc_data_validator_spark.operators.importance import (
        hashed_ngram_importance)
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        spread_small_input)
    raw = read_table(spark, sf_dir, "documents")
    # planted NULL-text row (review r5): it must score exactly `bias`
    # (clf_score coalesce fix), and it vanishes from the n-gram pass on
    # both engines — hence the LEFT join from the classifier side, which
    # covers every doc, rather than the old inner join that hid it
    planted = raw.limit(1).select(
        F.lit(-1).cast("long").alias("doc_id"),
        F.lit(None).cast("string").alias("text"),
        F.lit("xx").alias("lang"), F.lit("planted").alias("source"),
        F.lit(0).cast("long").alias("n_chars"))
    docs = spread_small_input(raw.unionByName(planted))
    imp = hashed_ngram_importance(docs, F.col("lang") == "en",
                                  n=2, buckets=4096)
    clf = hashed_linear_score(docs, demo_weights(4096), bias=0)
    return (clf.join(imp, "doc_id", "left")
            .select("doc_id", "n_ngrams", "sum_target_freq",
                    "sum_corpus_freq", "importance", "clf_score",
                    "clf_pred")
            .orderBy("doc_id"))


def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style corpus-frequency unit removal
    (operators/linedup.remove_common_lines). The testdata documents are
    single-line, so the removal unit here is the word (``sep=' '``):
    words present in >390 distinct documents are corpus boilerplate and
    are dropped, order of the survivors preserved — which exercises the
    posexplode → df-agg → broadcast anti-join → ordered reassembly
    pipeline for real. Text round-trips as an md5 so the compare moves
    hashes, not documents."""
    from nci_seronet_proc_data_validator_spark.operators.linedup import (
        remove_common_lines)
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        spread_small_input)
    docs = spread_small_input(read_table(spark, sf_dir, "documents"))
    out = remove_common_lines(docs, max_doc_freq=390, sep=" ")
    return (out.select("doc_id", F.md5("text").alias("new_text_hash"),
                       "n_lines_kept", "n_lines_dropped")
            .orderBy("doc_id"))


def _sql_boilerplate_removal() -> str:
    from nci_seronet_proc_data_validator_spark.operators.linedup import (
        remove_common_lines_oracle_sql)
    inner = remove_common_lines_oracle_sql(390, table="documents", sep=" ")
    return f"""
SELECT doc_id, md5(text) AS new_text_hash, n_lines_kept, n_lines_dropped
FROM ({inner.strip()}) ORDER BY doc_id
"""


def q_vocab_pipeline(spark: SparkSession, sf_dir: str, n: int = 200
                     ) -> DataFrame:
    """The vocabulary pipeline end to end in one tagged union: the
    frequency-truncated vocabulary itself ('vocab' rows: token, occurrence
    + document frequency, dense id) and every document encoded against it
    ('doc' rows: token count, OOV count, md5 of the ordered id sequence),
    plus corpus token-distribution health ('stats' rows: distinct/hapax/
    total token counts, and how many occurrences the truncated head
    covers — the Zipf head-coverage number that says whether vocab size n
    was enough). Embeds vocab_topn (same top-N ranking), build_vocab, and
    vocab_encode (operators/training.py) — ids ride the bounded
    broadcast, encodings reassemble in posexplode order; the stats reuse
    the one token-count aggregation."""
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        spread_small_input)
    from nci_seronet_proc_data_validator_spark.operators.training import (
        build_vocab, vocab_encode)
    docs = spread_small_input(read_table(spark, sf_dir, "documents"))
    # ONE persisted token-count aggregate (vocabulary-sized — distinct
    # tokens × two longs) feeds the vocab build, the 'vocab' rows and
    # both 'stats' rows: previously those four branches each re-ran the
    # tokenize scan + aggregation (r13). A shared posexplode/persist of
    # the raw token stream was measured SLOWER (1.72 → 2.71 s best):
    # caching occurrence-level rows costs more than the cheap map-side
    # re-tokenize it saves — cache the AGGREGATE, not the stream. The
    # encoder keeps its own posexplode (it needs token positions).
    counts = (docs.select("doc_id", F.explode(
                  F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
                  .alias("token"))
              .groupBy("token")
              .agg(F.count(F.lit(1)).alias("n_occ"),
                   F.countDistinct("doc_id").alias("n_docs"))
              .persist())
    vocab = build_vocab(docs, n=n, tok_counts=counts)
    vrows = (counts
             .join(vocab.select("token", "token_id"), "token")
             .select(F.lit("vocab").alias("part"),
                     F.col("token").alias("key"),
                     F.col("n_occ").alias("n_a"),
                     F.col("n_docs").alias("n_b"),
                     F.col("token_id").alias("n_c"),
                     F.lit("").alias("h")))
    srows = (counts.agg(
                 F.count(F.lit(1)).alias("n_a"),
                 F.sum((F.col("n_occ") == 1).cast("long")).alias("n_b"),
                 F.sum("n_occ").cast("long").alias("n_c"))
             .select(F.lit("stats").alias("part"),
                     F.lit("corpus").alias("key"), "n_a", "n_b", "n_c",
                     F.lit("").alias("h"))
             .unionByName(
                 counts.join(vocab.select("token"), "token").agg(
                     F.sum("n_occ").cast("long").alias("n_a"),
                     F.count(F.lit(1)).alias("n_b"))
                 .select(F.lit("stats").alias("part"),
                         F.lit("head").alias("key"), "n_a", "n_b",
                         F.lit(0).cast("long").alias("n_c"),
                         F.lit("").alias("h"))))
    enc = vocab_encode(docs, vocab)
    drows = enc.select(
        F.lit("doc").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("n_tokens").alias("n_a"),
        F.col("n_unk").alias("n_b"),
        F.lit(0).cast("long").alias("n_c"),
        F.md5(F.concat_ws(",", F.col("token_ids"))).alias("h"))
    return vrows.unionByName(srows).unionByName(drows)


def _sql_vocab_pipeline(n: int = 200) -> str:
    from nci_seronet_proc_data_validator_spark.operators.training import (
        vocab_encode_oracle_sql)
    enc = vocab_encode_oracle_sql(n_vocab=n, table="documents")
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents),
counts AS (
  SELECT token, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
  FROM tok GROUP BY token),
v AS (
  SELECT token, n_occ, n_docs,
         row_number() OVER (ORDER BY n_occ DESC, token) AS token_id
  FROM counts ORDER BY n_occ DESC, token LIMIT {n})
SELECT 'vocab' AS part, token AS key, n_occ AS n_a, n_docs AS n_b,
       CAST(token_id AS BIGINT) AS n_c, '' AS h
FROM v
UNION ALL
SELECT 'stats' AS part, 'corpus' AS key, count(*) AS n_a,
       CAST(sum(CASE WHEN n_occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       CAST(sum(n_occ) AS BIGINT) AS n_c, '' AS h
FROM counts
UNION ALL
SELECT 'stats' AS part, 'head' AS key, CAST(sum(n_occ) AS BIGINT) AS n_a,
       count(*) AS n_b, CAST(0 AS BIGINT) AS n_c, '' AS h
FROM v
UNION ALL
SELECT 'doc' AS part, CAST(doc_id AS VARCHAR) AS key, n_tokens AS n_a,
       n_unk AS n_b, CAST(0 AS BIGINT) AS n_c,
       md5(array_to_string(token_ids, ',')) AS h
FROM ({enc.strip()})
"""


# ------------------------------------------------ MinHash / SimHash dedup
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        minhash_signature, shingle_hashes, shingles, spread_small_input,
        tokens)
    docs = spread_small_input(read_table(spark, sf_dir, "documents"))
    sig = minhash_signature(shingle_hashes(shingles(tokens("text"))))
    return docs.select(
        "doc_id", *[sig[i].alias(f"sig_{i}") for i in range(4)]
    ).orderBy("doc_id")


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        minhash_lsh_pairs)
    docs = read_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs).orderBy("id_a", "id_b")


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting (operators/text_quality.py)."""
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        bpe_token_counts)
    docs = read_table(spark, sf_dir, "documents")
    return bpe_token_counts(docs).orderBy("doc_id")


def q_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length percentiles (p10/p50/p90) — the cutoff
    calibration step behind length-based quality filters. Exact
    ``percentile`` here for oracle parity; at 100 TB the drop-in is
    ``approx_percentile`` (t-digest, single pass, mergeable sketches)."""
    docs = read_table(spark, sf_dir, "documents")
    pct = F.expr("percentile(n_chars, array(0.1, 0.5, 0.9))")
    return (docs.groupBy("lang")
            .agg(F.round(pct[0], 6).alias("p10"),
                 F.round(pct[1], 6).alias("p50"),
                 F.round(pct[2], 6).alias("p90"))
            .orderBy("lang"))


SQL_LENGTH_PCT = """
SELECT lang,
       round(quantile_cont(n_chars, 0.1), 6) AS p10,
       round(quantile_cont(n_chars, 0.5), 6) AS p50,
       round(quantile_cont(n_chars, 0.9), 6) AS p90
FROM documents GROUP BY lang ORDER BY lang
"""


BM25_TERMS = ["spark", "window", "join"]
SAMPLE_RATES = {"en": 0.5, "de": 0.25}
SAMPLE_DEFAULT = 0.1


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a fixed bag of query terms (operators/search.py)."""
    from nci_seronet_proc_data_validator_spark.operators.search import (
        bm25_topk)
    docs = read_table(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_TERMS)


MIXTURE_SHARES = {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.2}  # zh dropped


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both deterministic sampling modes in one tagged union
    (operators/sampling.py): explicit per-language keep-rates
    ('stratified'), target-mixture water-filling ('mixture' — the
    scarcest stratum relative to its share keeps 100%, the rest
    downsample to hit the requested corpus proportions; strata outside
    the target mix drop), and sqrt-temperature flattening
    ('temperature' — mT5-style alpha=0.5 rare-stratum upweighting with
    count-derived integer weights)."""
    from nci_seronet_proc_data_validator_spark.operators.sampling import (
        mixture_sample, stratified_sample, temperature_sample)
    docs = read_table(spark, sf_dir, "documents")
    s = (stratified_sample(docs, "lang", SAMPLE_RATES, SAMPLE_DEFAULT)
         .select(F.lit("stratified").alias("part"), "doc_id", "lang"))
    m = (mixture_sample(docs, "lang", MIXTURE_SHARES)
         .select(F.lit("mixture").alias("part"), "doc_id", "lang"))
    t = (temperature_sample(docs, "lang")
         .select(F.lit("temperature").alias("part"), "doc_id", "lang"))
    return s.unionByName(m).unionByName(t)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → cluster assignments: MinHash-LSH edges fed through
    iterative min-label propagation (operators/graph.py); the oracle
    recomputes the same pipeline with a recursive CTE."""
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        minhash_lsh_pairs)
    from nci_seronet_proc_data_validator_spark.operators.graph import (
        connected_components)
    docs = read_table(spark, sf_dir, "documents")
    cc = connected_components(minhash_lsh_pairs(docs))
    return (cc.select(F.col("id").alias("doc_id"), "cluster_id")
            .orderBy("doc_id"))


def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        simhash64, spread_small_input, tokens_sql)
    docs = spread_small_input(read_table(spark, sf_dir, "documents"))
    return docs.select("doc_id",
                       simhash64(tokens_sql("text")).alias("simhash")
                       ).orderBy("doc_id")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: 4 x 16-bit chunk buckets (pigeonhole),
    bucket self-join, hamming verify — one shuffle on (chunk_id, chunk)."""
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        simhash_pairs)
    docs = read_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=8).orderBy("id_a", "id_b")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact prefix-filtered n-gram Jaccard join vs the oracle's brute
    force — losslessness at the threshold is the contract."""
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        ngram_jaccard_pairs)
    docs = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, min_jaccard=0.05).orderBy("id_a", "id_b")


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted count on a low-cardinality (hot) key — result must
    equal the plain groupBy the oracle runs."""
    from nci_seronet_proc_data_validator_spark.operators.skew import (
        salted_count)
    li = read_table(spark, sf_dir, "lineitem")
    return salted_count(li, "l_returnflag").orderBy("l_returnflag")


SQL_SKEW_AGG = """
SELECT l_returnflag, count(*) AS count
FROM lineitem GROUP BY 1 ORDER BY 1
"""


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-replicated join (hot big side x n_salts-replicated small side)
    — must equal the plain inner join the oracle runs."""
    from nci_seronet_proc_data_validator_spark.operators.skew import (
        salted_broadcast_join)
    orders = read_table(spark, sf_dir, "orders")
    cust = (read_table(spark, sf_dir, "customer")
            .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"))
    j = salted_broadcast_join(orders, cust, "o_custkey", n_salts=8)
    return (j.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                 .cast("double").alias("total_price"))
            .orderBy("c_mktsegment"))


SQL_SKEW_JOIN = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1 ORDER BY 1
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        embedding_near_dup_pairs)
    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, min_cosine=0.35) \
        .orderBy("id_a", "id_b")


# ------------------------------------------------------- similarity search
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors. Dot products fold
    left-to-right in both engines (identical IEEE result); ranking on
    round(sim, 12) defuses any residual last-ulp skew."""
    emb = read_table(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("embeddings")
    return spark.sql("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                 FROM embeddings WHERE vec_id < 5),
      sims AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               aggregate(zip_with(q.qe, c.embedding,
                                  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                         CAST(0.0 AS DOUBLE), (a, x) -> a + x)
               / (sqrt(aggregate(transform(q.qe,
                                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                                 CAST(0.0 AS DOUBLE), (a, x) -> a + x))
                  * sqrt(aggregate(transform(c.embedding,
                                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                                   CAST(0.0 AS DOUBLE), (a, x) -> a + x)))
                 AS sim
        FROM q CROSS JOIN embeddings c
        WHERE c.vec_id <> q.query_id)
      SELECT query_id, neighbor_id, round(sim, 6) AS sim6, rank
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY round(sim, 12) DESC, neighbor_id) AS rank
            FROM sims)
      WHERE rank <= 10
      ORDER BY query_id, rank
    """)


SQL_EMB_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe
           FROM embeddings WHERE vec_id < 5),
sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_reduce(list_transform(list_zip(q.qe, c.embedding),
                                    s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)),
                     (a, x) -> a + x)
         / (sqrt(list_reduce(list_transform(q.qe,
                                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                             (a, x) -> a + x))
            * sqrt(list_reduce(list_transform(c.embedding,
                                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                               (a, x) -> a + x)))
           AS sim
  FROM q CROSS JOIN embeddings c
  WHERE c.vec_id <> q.query_id)
SELECT query_id, neighbor_id, round(sim, 6) AS sim6, rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY round(sim, 12) DESC, neighbor_id) AS rank
      FROM sims)
WHERE rank <= 10
ORDER BY query_id, rank
"""


# ----------------------------------------------------------- events rollup
def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has varied its ``ts`` physical type across driver
    rounds — TIMESTAMP(NANOS) (arrives as long under nanosAsLong),
    TIMESTAMP, and TIMESTAMP_NTZ. Normalize all three to a session-tz
    TIMESTAMP: the session zone is pinned to UTC (session.py), so the
    NTZ→TZ cast is wall-clock-identical and hashes match the DuckDB
    oracle's naive timestamps."""
    ev = read_table(spark, sf_dir, "events")
    t = dict(ev.dtypes).get("ts")
    if t == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    elif t == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                       "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                 .cast("double").alias("total_value"))
            .orderBy("hour", "event_type"))


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + cumulative gap count (the batch twin of
    session_window): per-user sessions split on 30-minute silence.

    Precision contract: events.parquet is TIMESTAMP(NANOS); both engines
    truncate to integer epoch-MICROseconds before any comparison, the gap
    test runs in integer micros, and session bounds are emitted as BIGINT
    micros — so a nanosecond-preserving oracle build hashes identically to
    one that coerces to micro timestamps at read."""
    from pyspark.sql import Window as W
    ev = read_events(spark, sf_dir).withColumn("tsu", F.unix_micros("ts"))
    w_user = W.partitionBy("user_id").orderBy("tsu", "event_id")
    gap = F.when(
        (F.col("tsu") - F.lag("tsu").over(w_user)) > 1800 * 1_000_000, 1) \
        .otherwise(0)
    sess = ev.withColumn("session_id", F.sum(gap).over(
        w_user.rowsBetween(W.unboundedPreceding, 0)))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("tsu").alias("session_start"),
                 F.max("tsu").alias("session_end"))
            .orderBy("user_id", "session_id"))


SQL_SESSIONIZE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
  FROM events),
g AS (
  SELECT user_id, tsu, event_id,
         CASE WHEN tsu - lag(tsu) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
s AS (
  SELECT user_id, tsu,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events,
       min(tsu) AS session_start, max(tsu) AS session_end
FROM s GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by total price within each order priority (ranking
    window, deterministic tie-break on key)."""
    from pyspark.sql import Window as W
    orders = read_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (orders.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")
            .orderBy("o_orderpriority", "rank"))


SQL_TOPK_GROUP = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders)
WHERE rank <= 3 ORDER BY o_orderpriority, rank
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets suite: CUBE with ``grouping_id()`` null-safe
    full-joined against ROLLUP over the same enrichment — one row per
    cube cell carrying both aggregates, with the rollup side NULL
    exactly on the (·, priority) cells rollup doesn't produce (gid 2).
    Proves cube, rollup, grouping_id and the null-safe (<=>) join in one
    driver row; the grouping-NULL vs data-NULL distinction is what
    grouping_id exists for, and the join keys use <=> precisely because
    grouping rows carry NULLs."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    joined = orders.join(F.broadcast(cust.select("c_custkey", "c_mktsegment")),
                         orders.o_custkey == F.col("c_custkey"), "left")
    aggs = [F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double").alias("total_price")]
    cube = (joined.cube("c_mktsegment", "o_orderpriority")
            .agg(F.grouping_id().alias("gid"), *aggs))
    # the rollup side carries ITS grouping id into the join key: a
    # data-NULL segment groups at gid 0 in both shapes, and without gid
    # in the key cube's gid-2 (·, priority) cells would collide with it
    roll = (joined.rollup("c_mktsegment", "o_orderpriority")
            .agg(F.grouping_id().alias("r_gid"), *aggs)
            .select("r_gid",
                    F.col("c_mktsegment").alias("r_seg"),
                    F.col("o_orderpriority").alias("r_pri"),
                    F.col("n_orders").alias("n_orders_rollup"),
                    F.col("total_price").alias("total_price_rollup")))
    return (cube.join(roll,
                      (cube["gid"] == F.col("r_gid"))
                      & cube["c_mktsegment"].eqNullSafe(F.col("r_seg"))
                      & cube["o_orderpriority"].eqNullSafe(F.col("r_pri")),
                      "left")
            .select("c_mktsegment", "o_orderpriority", "gid", "n_orders",
                    "total_price", "n_orders_rollup", "total_price_rollup")
            .orderBy(F.col("gid"),
                     F.col("c_mktsegment").asc_nulls_first(),
                     F.col("o_orderpriority").asc_nulls_first()))


SQL_ROLLUP = """
WITH j AS (
  SELECT c_mktsegment, o_orderpriority, o_totalprice
  FROM orders LEFT JOIN customer ON o_custkey = c_custkey),
cube_side AS (
  SELECT c_mktsegment, o_orderpriority,
         CAST(GROUPING(c_mktsegment, o_orderpriority) AS BIGINT) AS gid,
         count(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
           AS total_price
  FROM j GROUP BY CUBE (c_mktsegment, o_orderpriority)),
roll_side AS (
  SELECT CAST(GROUPING(c_mktsegment, o_orderpriority) AS BIGINT) AS r_gid,
         c_mktsegment AS r_seg, o_orderpriority AS r_pri,
         count(*) AS n_orders_rollup,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
           AS total_price_rollup
  FROM j GROUP BY ROLLUP (c_mktsegment, o_orderpriority))
SELECT c.c_mktsegment, c.o_orderpriority, c.gid, c.n_orders,
       c.total_price, r.n_orders_rollup, r.total_price_rollup
FROM cube_side c LEFT JOIN roll_side r
  ON c.gid = r.r_gid
 AND c.c_mktsegment IS NOT DISTINCT FROM r.r_seg
 AND c.o_orderpriority IS NOT DISTINCT FROM r.r_pri
ORDER BY c.gid, c.c_mktsegment ASC NULLS FIRST,
         c.o_orderpriority ASC NULLS FIRST
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (composed union+window operator vs DuckDB's native ASOF
    JOIN): each click/view event picks up the latest preceding error
    value for its user."""
    from nci_seronet_proc_data_validator_spark.operators.asof import asof_join
    ev = read_events(spark, sf_dir)
    left = (ev.filter(F.col("event_type").isin("click", "view"))
            .select("event_id", "user_id", "ts"))
    right = (ev.filter(F.col("event_type") == "error")
             .groupBy("user_id", "ts")
             .agg(F.max("value").alias("err_value")))
    out = asof_join(left, right, "user_id", "ts", ["err_value"])
    return out.select("event_id", "user_id", "err_value").orderBy("event_id")


SQL_ASOF = """
WITH l AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type IN ('click', 'view')),
r AS (SELECT user_id, ts, max(value) AS err_value FROM events
      WHERE event_type = 'error' GROUP BY 1, 2)
SELECT l.event_id, l.user_id, r.err_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


# --------------------------------------------------------------- registry
QUERIES = {
    "c1_in_list": (q_c1_in_list, SQL_C1),
    "c2_date_range": (q_c2_date_range, SQL_C2),
    "c3_number_range": (q_c3_number_range, SQL_C3),
    "c3_int_check": (q_c3_int_check, SQL_C3_INT),
    "c5_id_format": (q_c5_id_format, SQL_C5),
    "c6_dup_ids": (q_c6_dup_ids, SQL_C6),
    "c7_substr": (q_c7_substr, SQL_C7),
    "c8_dict_lookup": (q_c8_dict_lookup, SQL_C8),
    "c4_string_check": (q_c4_string_check, SQL_C4),
    "c9_assay_resolution": (q_c9_assay_resolution, SQL_C9),
    "c10_live_le_total": (q_c10_live_le_total, SQL_C10),
    "c11_viability": (q_c11_viability, SQL_C11),
    "c12_missing_sars": (q_c12_missing_sars, SQL_C12),
    "a2_crosstab": (q_a2_crosstab, SQL_A2),
    "a6_dedup_findings": (q_a6_dedup_findings, SQL_A6),
    "j4_bio_spine": (q_j4_bio_spine, SQL_J4),
    "a4_count_reconcile": (q_a4_count_reconcile, SQL_A4),
    "j1_enrich_revenue": (q_j1_enrich_revenue, SQL_J1),
    "j3_presence_patterns": (q_j3_presence_patterns, SQL_J3),
    "j6_anti_join": (q_j6_anti_join, SQL_J6),
    "o3_union_slices": (q_o3_union_slices, SQL_O3),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_normalized": (q_dedup_normalized, SQL_DEDUP_NORM),
    "text_stats": (q_text_stats, SQL_TEXT_STATS),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "doc_fingerprint": (q_doc_fingerprint, SQL_FINGERPRINT),
    "embedding_topk": (q_embedding_topk, SQL_EMB_TOPK),
    "events_hourly": (q_events_hourly, SQL_EVENTS_HOURLY),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "topk_per_group": (q_topk_per_group, SQL_TOPK_GROUP),
    "asof_join": (q_asof_join, SQL_ASOF),
    "rollup_revenue": (q_rollup_revenue, SQL_ROLLUP),
}


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: centroids/queries = the first 16/5 vectors (deterministic
    stand-ins for a k-means build)."""
    from nci_seronet_proc_data_validator_spark.operators.similarity import (
        ivf_topk)
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = (emb.filter(F.col("vec_id") < 16)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("ce")))
    queries_df = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"),
                          F.col("embedding").alias("qe")))
    return ivf_topk(emb, centroids, queries_df).orderBy("query_id", "rank")


def _register_dedup_queries() -> None:
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        embedding_near_dup_oracle_sql,
        minhash_lsh_pairs_oracle_sql,
        minhash_oracle_sql,
        ngram_jaccard_oracle_sql,
        simhash_oracle_sql,
        simhash_pairs_oracle_sql,
    )
    QUERIES.update({
        "ngram_jaccard_pairs": (q_ngram_jaccard, ngram_jaccard_oracle_sql()),
        "minhash_signatures": (q_minhash_signatures, minhash_oracle_sql()),
        "minhash_lsh_pairs": (q_minhash_lsh_pairs,
                              minhash_lsh_pairs_oracle_sql()),
        "simhash_signatures": (q_simhash_signatures, simhash_oracle_sql()),
        "simhash_pairs": (q_simhash_pairs, simhash_pairs_oracle_sql()),
        "skew_salted_agg": (q_skew_salted_agg, SQL_SKEW_AGG),
        "skew_salted_join": (q_skew_salted_join, SQL_SKEW_JOIN),
        "embedding_near_dup": (q_embedding_near_dup,
                               embedding_near_dup_oracle_sql(min_cosine=0.35)),
    })
    from nci_seronet_proc_data_validator_spark.operators.similarity import (
        ivf_topk_oracle_sql)
    QUERIES["ivf_topk"] = (q_ivf_topk, ivf_topk_oracle_sql())
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        quality_oracle_sql, repetition_oracle_sql)
    QUERIES.update({
        "quality_score": (q_quality_score, quality_oracle_sql()),
        "repetition_bigrams": (q_repetition, repetition_oracle_sql()),
    })
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        familiarity_oracle_sql)
    QUERIES.update({
        "familiarity": (q_familiarity, familiarity_oracle_sql()),
    })
    from nci_seronet_proc_data_validator_spark.operators.graph import (
        connected_components_oracle_sql)
    QUERIES["dedup_clusters"] = (
        q_dedup_clusters,
        connected_components_oracle_sql(minhash_lsh_pairs_oracle_sql()))
    from nci_seronet_proc_data_validator_spark.operators.sampling import (
        mixture_sample_oracle_sql, stratified_sample_oracle_sql,
        temperature_sample_oracle_sql)
    from nci_seronet_proc_data_validator_spark.operators.search import (
        bm25_oracle_sql)
    strat_sql = stratified_sample_oracle_sql(
        "lang", SAMPLE_RATES, SAMPLE_DEFAULT,
        select="'stratified' AS part, doc_id, lang")
    mix_sql = mixture_sample_oracle_sql(
        "lang", MIXTURE_SHARES, select="'mixture' AS part, doc_id, lang")
    temp_sql = temperature_sample_oracle_sql(
        "lang", select="'temperature' AS part, doc_id, lang")
    QUERIES.update({
        "bm25_topk": (q_bm25_topk, bm25_oracle_sql(BM25_TERMS)),
        "stratified_sample": (
            q_stratified_sample,
            f"SELECT * FROM ({strat_sql.strip()})\nUNION ALL\n"
            f"SELECT * FROM ({mix_sql.strip()})\nUNION ALL\n"
            f"SELECT * FROM ({temp_sql.strip()})"),
    })
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        bpe_token_oracle_sql)
    QUERIES.update({
        "bpe_token_count": (q_bpe_tokens, bpe_token_oracle_sql()),
        "length_percentiles": (q_length_percentiles, SQL_LENGTH_PCT),
    })


# ------------------------------------------ round-2 pipeline operators
# The synthetic corpus carries no organic PII, so the PII query injects
# deterministic spans (emails/phones/SSNs/IPs keyed off doc_id) with the
# SAME expression on both engines — the operator under test is the
# detection/redaction machinery, not the fixture.
def _pii_augmented(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")

    def s(e):  # noqa: ANN001 - Column
        return e.cast("string")

    aug = F.concat(
        F.col("text"),
        F.when(did % 5 == 0, F.concat(
            F.lit(" contact user"), s(did), F.lit("@example.com")))
        .otherwise(F.lit("")),
        F.when(did % 7 == 0, F.concat(
            F.lit(" call 555-"), F.lpad(s(did % 1000), 3, "0"),
            F.lit("-"), F.lpad(s(did % 10000), 4, "0")))
        .otherwise(F.lit("")),
        F.when(did % 11 == 0, F.concat(
            F.lit(" ssn 212-45-"), F.lpad(s(did % 10000), 4, "0")))
        .otherwise(F.lit("")),
        F.when(did % 13 == 0, F.concat(
            F.lit(" from 10.0."), s(did % 256), F.lit("."),
            s(did % 254 + 1)))
        .otherwise(F.lit("")),
    )
    return docs.select("doc_id", aug.alias("text"))


_PII_DOC_SQL = """
SELECT doc_id, text
  || CASE WHEN doc_id % 5 = 0
     THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
     ELSE '' END
  || CASE WHEN doc_id % 7 = 0
     THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
          || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
     ELSE '' END
  || CASE WHEN doc_id % 11 = 0
     THEN ' ssn 212-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
     ELSE '' END
  || CASE WHEN doc_id % 13 = 0
     THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
          || CAST(doc_id % 254 + 1 AS VARCHAR)
     ELSE '' END
  AS text
FROM documents
"""


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the (augmented) corpus, map-only."""
    from nci_seronet_proc_data_validator_spark.operators.pii import (
        pii_features)
    docs = read_table(spark, sf_dir, "documents")
    return pii_features(_pii_augmented(docs)).orderBy("doc_id")


_BENCH_PRED = "doc_id % 97 = 0"


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan two ways in one result: the exact
    broadcast n-gram join (``benchmark_overlap``) PLUS the round-4
    Bloom-bitset gate (``operators/bloom.bloom_contaminated`` — 64 KB
    broadcast instead of the raw n-gram set; deterministic fp, so both
    engines agree bit-for-bit). Corpus docs vs the deterministic
    benchmark slice (doc_id % 97 == 0), 5-gram hash collision."""
    from nci_seronet_proc_data_validator_spark.operators.bloom import (
        bloom_contaminated)
    from nci_seronet_proc_data_validator_spark.operators.contamination import (
        benchmark_overlap)
    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return (benchmark_overlap(corpus, bench, n=5)
            .join(bloom_contaminated(corpus, bench, n=5), "doc_id")
            .orderBy("doc_id"))


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-containment join, the bucketed way: high-value anchor events
    (value > 300) open a ±15-min window per user; count/sum every event
    of that user inside the window. Bin width 30 min ≥ window width, so
    each interval explodes to ≤ 2 bins and the join is a plain equi-join
    on (user_id, bin) — never a BNLJ."""
    from nci_seronet_proc_data_validator_spark.operators.interval import (
        interval_join)
    ev = (read_events(spark, sf_dir)
          .withColumn("tsu", F.unix_micros("ts")))
    anchors = (ev.filter(F.col("value") > 300)
               .select(F.col("event_id").alias("interval_id"), "user_id",
                       (F.col("tsu") - 900_000_000).alias("lo"),
                       (F.col("tsu") + 900_000_000).alias("hi")))
    points = ev.select("user_id", "tsu", "value")
    joined = interval_join(anchors, points, "user_id")
    return (joined.groupBy("interval_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                 .cast("double").alias("sum_value"))
            .orderBy("interval_id"))


SQL_INTERVAL_JOIN = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu, value
  FROM events),
a AS (
  SELECT event_id AS interval_id, user_id,
         tsu - 900000000 AS lo, tsu + 900000000 AS hi
  FROM e WHERE value > 300)
SELECT a.interval_id, count(*) AS n_events,
       CAST(SUM(CAST(p.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM a JOIN e p ON p.user_id = a.user_id AND p.tsu BETWEEN a.lo AND a.hi
GROUP BY 1 ORDER BY 1
"""


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations, k=8, over the embeddings table — the
    centroid-training step for the IVF index, integer-exact on both
    engines (see operators/kmeans.py)."""
    from nci_seronet_proc_data_validator_spark.operators.kmeans import (
        kmeans_fit)
    emb = read_table(spark, sf_dir, "embeddings")
    return kmeans_fit(emb, k=8, iters=2)


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window rollup (1 h window, 30 min slide) via ``F.window`` —
    the batch twin of the streaming windowed agg. Each event lands in
    exactly 2 windows (width/slide); bounds emit as epoch micros per the
    engine timestamp contract."""
    ev = read_events(spark, sf_dir)
    return (ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                 .cast("double").alias("sum_value"))
            .select(F.unix_micros("w.start").alias("window_start"),
                    F.unix_micros("w.end").alias("window_end"),
                    "n_events", "sum_value")
            .orderBy("window_start"))


SQL_EVENTS_SLIDING = """
WITH e AS (
  SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000) * 1800000000
           AS flr, value
  FROM events)
SELECT ws AS window_start, ws + 3600000000 AS window_end,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM (SELECT unnest([flr, flr - 1800000000]) AS ws, value FROM e)
GROUP BY ws ORDER BY ws
"""


def q_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus a training run would actually consume, both terminal
    picks as one tagged union over the SAME component run: 'canonical' =
    drop every clustered doc except its min-id representative
    (operators/graph.keep_canonical); 'best' = quality-aware pick
    (keep_best_in_cluster — highest n_chars wins, docs ≡0 (mod 13) carry
    a planted NULL score that must never beat a scored sibling)."""
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        minhash_lsh_pairs)
    from nci_seronet_proc_data_validator_spark.operators.graph import (
        connected_components, keep_best_in_cluster, keep_canonical)
    docs = read_table(spark, sf_dir, "documents")
    cc = connected_components(minhash_lsh_pairs(docs))
    canon = (keep_canonical(docs, cc)
             .select(F.lit("canonical").alias("arm"), "doc_id", "lang"))
    scored = docs.withColumn(
        "score", F.when(F.col("doc_id") % 13 == 0,
                        F.lit(None).cast("long"))
        .otherwise(F.col("n_chars")))
    best = (keep_best_in_cluster(scored, cc, "score")
            .select(F.lit("best").alias("arm"), "doc_id", "lang"))
    return canon.unionByName(best).orderBy("arm", "doc_id")


def q_vocab_topn(spark: SparkSession, sf_dir: str, n: int = 200) -> DataFrame:
    """Corpus vocabulary: top-N tokens by occurrence count (ties → token
    asc) with document frequency — the tokenizer-training precursor. One
    explode → one keyed agg (map-side partial + distinct expansion);
    top-N is a TakeOrdered, never a full sort materialization."""
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        spread_small_input, tokens)
    docs = spread_small_input(read_table(spark, sf_dir, "documents"))
    return (docs.select("doc_id", F.explode(tokens("text")).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("n_occ"),
                 F.countDistinct("doc_id").alias("n_docs"))
            .orderBy(F.col("n_occ").desc(), "token")
            .limit(n))


SQL_VOCAB_TOPN = """
SELECT token, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
FROM (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents)
GROUP BY token
ORDER BY n_occ DESC, token
LIMIT 200
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (500 chars, 100 overlap) — map-only
    explode; chunks identified by length + portable hash."""
    from nci_seronet_proc_data_validator_spark.operators.training import (
        chunk_documents)
    docs = read_table(spark, sf_dir, "documents")
    return (chunk_documents(docs, chunk_chars=500, overlap=100)
            .select("doc_id", "chunk_idx", "chunk_len", "chunk_hash")
            .orderBy("doc_id", "chunk_idx"))


def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split + shuffle key (pure map)."""
    from nci_seronet_proc_data_validator_spark.operators.training import (
        train_val_split)
    docs = read_table(spark, sf_dir, "documents")
    return train_val_split(docs, val_pct=10).orderBy("doc_id")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-cut sequence packing per language shard."""
    from nci_seronet_proc_data_validator_spark.operators.training import (
        pack_sequences)
    docs = read_table(spark, sf_dir, "documents")
    return (pack_sequences(docs, budget=2048)
            .orderBy("shard", "seq_id"))


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (pricing summary): one scan, one keyed agg with
    map-side partials. All money math is integer fixed-point (prices in
    cents, discount/tax in percent points), summed through DECIMAL(38,0)
    and emitted as BIGINT — exact, order-independent, and immune to the
    cross-engine wide-decimal divergence (a 3-factor DECIMAL product
    exceeds DuckDB's 38-digit width and silently degrades to double;
    integer units never do). ``sum_disc_price_e4``/``sum_charge_e6``
    carry scale 1e4 / 1e6 respectively."""
    li = (read_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") <= F.lit("1998-09-02")
                  .cast("timestamp")))
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    d100 = F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    t100 = F.lit(100) + F.round(F.col("l_tax") * 100).cast("long")
    qty = F.round(F.col("l_quantity")).cast("long")

    def exact_sum(col):
        return F.sum(col.cast("decimal(38,0)")).cast("long")

    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(exact_sum(qty).alias("sum_qty"),
                 exact_sum(cents).alias("sum_base_price_cents"),
                 exact_sum(cents * d100).alias("sum_disc_price_e4"),
                 exact_sum(cents * d100 * t100).alias("sum_charge_e6"),
                 (exact_sum(qty).cast("double")
                  / F.count(F.lit(1))).alias("avg_qty"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


SQL_TPCH_Q1 = """
WITH t AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity) AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         100 - CAST(round(l_discount * 100) AS BIGINT) AS d100,
         100 + CAST(round(l_tax * 100) AS BIGINT) AS t100
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02')
SELECT l_returnflag, l_linestatus,
       CAST(SUM(qty) AS BIGINT) AS sum_qty,
       CAST(SUM(cents) AS BIGINT) AS sum_base_price_cents,
       CAST(SUM(cents * d100) AS BIGINT) AS sum_disc_price_e4,
       CAST(SUM(cents * d100 * t100) AS BIGINT) AS sum_charge_e6,
       CAST(CAST(SUM(qty) AS BIGINT) AS DOUBLE) / count(*) AS avg_qty,
       count(*) AS count_order
FROM t
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping-priority): filters push to all three
    scans, the customer side broadcasts, top-10 is a TakeOrdered with a
    fully deterministic key (revenue is an exact DECIMAL sum, ties broken
    on the unique orderkey)."""
    cutoff = F.lit("1996-07-01").cast("timestamp")
    cust = (read_table(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = (read_table(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") < cutoff)
              .select("o_orderkey", "o_custkey", "o_orderdate",
                      "o_orderpriority"))
    li = (read_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") > cutoff)
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1).cast("decimal(18,4)")
              - F.col("l_discount").cast("decimal(18,4)")))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust),
                  F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("l_orderkey",
                     F.to_date("o_orderdate").cast("string")
                     .alias("o_orderdate"),
                     "o_orderpriority")
            .agg(F.sum(rev).cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), "l_orderkey")
            .limit(10))


SQL_TPCH_Q3 = """
SELECT l_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
       o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4))
                   - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND l_shipdate > TIMESTAMP '1996-07-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier volume): a 6-table join where the
    two dimension tables broadcast, the supplier join carries the
    cross-side ``c_nationkey = s_nationkey`` locality condition, and AQE
    picks shuffle strategies for the big sides."""
    y0 = F.lit("1996-01-01").cast("timestamp")
    y1 = F.lit("1997-01-01").cast("timestamp")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    orders = (read_table(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= y0)
                      & (F.col("o_orderdate") < y1))
              .select("o_orderkey", "o_custkey"))
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    supp = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    nation = read_table(spark, sf_dir, "nation")
    region = (read_table(spark, sf_dir, "region")
              .filter(F.col("r_name") == "ASIA"))
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1).cast("decimal(18,4)")
              - F.col("l_discount").cast("decimal(18,4)")))
    return (li
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(supp, (F.col("l_suppkey") == F.col("s_suppkey"))
                  & (F.col("c_nationkey") == F.col("s_nationkey")))
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(region),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("n_name")
            .agg(F.sum(rev).cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), "n_name"))


SQL_TPCH_Q5 = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4))
                   - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the customer↔supplier purchase graph
    (edges: distinct (custkey, suppkey) pairs from orders⋈lineitem, id
    spaces disjoint via 2k / 2k+1). Exact integer ranks — see
    operators/graph.pagerank."""
    from nci_seronet_proc_data_validator_spark.operators.graph import (
        pagerank)
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey")
    edges = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .select((F.col("o_custkey") * 2).alias("src"),
                     (F.col("l_suppkey") * 2 + 1).alias("dst"))
             .distinct())
    return (pagerank(edges, iters=3)
            .orderBy(F.col("rank").desc(), "node_id"))


_PR_EDGES_SQL = """
SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


def q_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-seen epoch-week, counted
    in every later week they were active. Three keyed shuffles (first-seen
    agg, activity distinct, cohort join) — all on user_id or the tiny
    (cohort, week) pair; weeks are integer micros arithmetic, exact on
    both engines."""
    wk = 7 * 86_400 * 1_000_000
    ev = (read_events(spark, sf_dir)
          .select("user_id",
                  F.floor(F.unix_micros("ts") / wk).alias("week")))
    first = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = ev.distinct()
    return (active.join(first, "user_id")
            .groupBy("cohort_week", "week")
            .agg(F.count(F.lit(1)).alias("n_users"))
            .orderBy("cohort_week", "week"))


SQL_USER_RETENTION = """
WITH e AS (
  SELECT user_id,
         CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 604800000000.0)
              AS BIGINT) AS week
  FROM events),
f AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id),
a AS (SELECT DISTINCT user_id, week FROM e)
SELECT cohort_week, week, count(*) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): a HAVING-filtered aggregate
    over the fact table joined back to its parents. The qualifying-key
    set is tiny after the HAVING cut, so the join back to orders is
    effectively a semi-join Spark can broadcast; quantities sum in exact
    integer units."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.round(F.col("l_quantity")).cast("long").alias("q"))
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(F.col("q").cast("decimal(38,0)")).cast("long")
                .alias("sum_qty"))
           .filter(F.col("sum_qty") > 250))
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name")
    return (F.broadcast(big)
            .join(orders, big.l_orderkey == orders.o_orderkey)
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .select("c_name", "o_orderkey",
                    F.round(F.col("o_totalprice") * 100).cast("long")
                    .alias("totalprice_cents"),
                    "sum_qty")
            .orderBy(F.col("totalprice_cents").desc(), "o_orderkey")
            .limit(20))


SQL_TPCH_Q18 = """
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) > 250)
SELECT c_name, o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
       sum_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY totalprice_cents DESC, o_orderkey
LIMIT 20
"""


def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation funnel in ONE aggregation pass: how many
    documents survive each cumulative stage — length floor, Gopher-style
    quality gate, near-dup canonical filter, and a RefinedWeb-style
    whole-domain gate (drop every doc from domains where under half the
    docs pass the quality gate — integer-math threshold, no float
    compare). Composes quality_features + minhash LSH + connected
    components + a per-domain keyed agg; flags are computed per doc and
    summed, so adding a stage costs a column, not a pass. Domain stats
    are domain-cardinality small → broadcast back."""
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        minhash_lsh_pairs)
    from nci_seronet_proc_data_validator_spark.operators.graph import (
        connected_components)
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        quality_features)
    docs = read_table(spark, sf_dir, "documents")
    qf = quality_features(docs).select("doc_id", "n_words", "is_quality")
    losers = (connected_components(minhash_lsh_pairs(docs))
              .filter(F.col("id") != F.col("cluster_id"))
              .select(F.col("id").alias("doc_id"),
                      F.lit(True).alias("is_dup")))
    base = docs.select("doc_id", "source").join(qf, "doc_id", "left")
    dom_ok = (base.groupBy("source")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum(F.coalesce(F.col("is_quality"), F.lit(False))
                         .cast("long")).alias("n_q"))
              .select("source",
                      (F.col("n_q") * 2 >= F.col("n_docs"))
                      .alias("domain_ok")))
    d = (base.join(F.broadcast(losers), "doc_id", "left")
         .join(F.broadcast(dom_ok), "source", "left"))
    f1 = F.coalesce(F.col("n_words") >= 5, F.lit(False))
    f2 = f1 & F.coalesce(F.col("is_quality"), F.lit(False))
    f3 = f2 & ~F.coalesce(F.col("is_dup"), F.lit(False))
    f4 = f3 & F.coalesce(F.col("domain_ok"), F.lit(False))
    return d.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(f1.cast("long")).alias("n_len_ok"),
        F.sum(f2.cast("long")).alias("n_quality"),
        F.sum(f3.cast("long")).alias("n_kept"),
        F.sum(f4.cast("long")).alias("n_domain_kept"))


def corpus_funnel_oracle_sql(pairs_sql: str) -> str:
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        STOPWORDS)
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH RECURSIVE
pairs AS ({pairs_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs),
reach AS (
  SELECT src AS id, src AS root FROM edges
  UNION
  SELECT e.dst AS id, r.root AS root
  FROM reach r JOIN edges e ON e.src = r.id),
cc AS (SELECT id, min(root) AS cluster_id FROM reach GROUP BY id),
q AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         (len(list_filter(ws, x -> list_contains([{stops}], x))) * 20
            >= len(ws)
          AND len(list_distinct(ws)) * 5 >= len(ws)) AS is_quality
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, ' +'), x -> x <> '')
                 AS ws
        FROM documents)
  WHERE len(ws) > 0),
dom AS (
  SELECT doc.source,
         (sum(CASE WHEN COALESCE(q.is_quality, FALSE) THEN 1 ELSE 0 END) * 2
            >= count(*)) AS domain_ok
  FROM documents doc LEFT JOIN q ON doc.doc_id = q.doc_id
  GROUP BY doc.source),
d AS (
  SELECT doc.doc_id,
         COALESCE(q.n_words >= 5, FALSE) AS f1,
         COALESCE(q.n_words >= 5, FALSE)
           AND COALESCE(q.is_quality, FALSE) AS f2,
         doc.doc_id IN (SELECT id FROM cc WHERE id <> cluster_id) AS dup,
         COALESCE(dom.domain_ok, FALSE) AS dom_ok
  FROM documents doc LEFT JOIN q ON doc.doc_id = q.doc_id
  LEFT JOIN dom ON doc.source = dom.source)
SELECT count(*) AS n_total,
       CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
       CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN f2 AND NOT dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN f2 AND NOT dup AND dom_ok THEN 1 ELSE 0 END)
            AS BIGINT) AS n_domain_kept
FROM d
"""


def q_ivf_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ANN pipeline — k-means-trained centroids feeding the IVF
    probe — cross-checked end to end (train is integer-exact, probe is
    the shared IEEE fold contract)."""
    from nci_seronet_proc_data_validator_spark.operators.kmeans import (
        kmeans_centroid_vectors)
    from nci_seronet_proc_data_validator_spark.operators.similarity import (
        ivf_topk)
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = kmeans_centroid_vectors(emb, k=8, iters=2)
    queries_df = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("query_id"),
                          F.col("embedding").alias("qe")))
    return (ivf_topk(emb, centroids, queries_df, k=5, nprobe=2)
            .orderBy("query_id", "rank"))


def _register_round2_queries() -> None:
    from nci_seronet_proc_data_validator_spark.operators.contamination import (
        contamination_with_bloom_oracle_sql)
    from nci_seronet_proc_data_validator_spark.operators.pii import (
        pii_oracle_sql)
    QUERIES.update({
        "pii_scan": (q_pii_scan, pii_oracle_sql(_PII_DOC_SQL)),
        "contamination": (q_contamination,
                          contamination_with_bloom_oracle_sql(_BENCH_PRED,
                                                              n=5)),
        "interval_join": (q_interval_join, SQL_INTERVAL_JOIN),
    })
    from nci_seronet_proc_data_validator_spark.operators.kmeans import (
        kmeans_centroid_vectors_cte, kmeans_ctes, kmeans_oracle_sql)
    from nci_seronet_proc_data_validator_spark.operators.similarity import (
        ivf_topk_oracle_sql)
    QUERIES["kmeans_centroids"] = (q_kmeans, kmeans_oracle_sql(k=8, iters=2))
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        minhash_lsh_pairs_oracle_sql)
    from nci_seronet_proc_data_validator_spark.operators.graph import (
        keep_best_oracle_sql, keep_canonical_oracle_sql,
        pagerank_oracle_sql)
    QUERIES["pagerank"] = (
        q_pagerank, pagerank_oracle_sql(_PR_EDGES_SQL, iters=3))
    _canon_sql = keep_canonical_oracle_sql(minhash_lsh_pairs_oracle_sql())
    _best_sql = keep_best_oracle_sql(
        minhash_lsh_pairs_oracle_sql(),
        "CASE WHEN d.doc_id % 13 = 0 THEN NULL ELSE d.n_chars END")
    QUERIES["dedup_keep_canonical"] = (
        q_dedup_keep_canonical, f"""
SELECT 'canonical' AS arm, doc_id, lang FROM ({_canon_sql.strip()})
UNION ALL
SELECT 'best' AS arm, doc_id, lang FROM ({_best_sql.strip()})
ORDER BY arm, doc_id
""")
    QUERIES["vocab_topn"] = (q_vocab_topn, SQL_VOCAB_TOPN)
    QUERIES["events_sliding"] = (q_events_sliding, SQL_EVENTS_SLIDING)
    from nci_seronet_proc_data_validator_spark.operators.training import (
        chunk_documents_oracle_sql,
        pack_sequences_oracle_sql,
        train_val_split_oracle_sql,
    )
    QUERIES.update({
        "chunk_documents": (q_chunk_documents,
                            chunk_documents_oracle_sql(500, 100)),
        "train_val_split": (q_train_val_split,
                            train_val_split_oracle_sql(val_pct=10)),
        "pack_sequences": (q_pack_sequences,
                           pack_sequences_oracle_sql(budget=2048)),
        "corpus_funnel": (q_corpus_funnel,
                          corpus_funnel_oracle_sql(
                              minhash_lsh_pairs_oracle_sql())),
        "user_retention": (q_user_retention, SQL_USER_RETENTION),
        "tpch_q1": (q_tpch_q1, SQL_TPCH_Q1),
        "tpch_q3": (q_tpch_q3, SQL_TPCH_Q3),
        "tpch_q5": (q_tpch_q5, SQL_TPCH_Q5),
        "tpch_q18": (q_tpch_q18, SQL_TPCH_Q18),
    })
    QUERIES["ivf_topk_trained"] = (
        q_ivf_topk_trained,
        ivf_topk_oracle_sql(
            n_queries=5, k=5, nprobe=2,
            prefix_ctes=kmeans_ctes(k=8, iters=2),
            cent_cte=kmeans_centroid_vectors_cte(k=8, iters=2)))


_register_dedup_queries()
_register_round2_queries()


# --------------------------------------------------------------------------
# Consolidated registry (round 3). The driver oracle-checks the FIRST 50
# registered queries; round 2 registered 67 and left 17 formally untested
# (VERDICT r2 finding #1). Sibling checks merge into tagged unions and
# operators that run embedded inside a composed query lose their standalone
# entry, so every registered query — including the TPC-H shapes, pagerank,
# and the training-prep pipeline — lands inside the checked window. The
# standalone q_* functions all remain importable (bench.py keys and tests
# keep their per-operator granularity).
#
# Embedded-elsewhere drops: minhash_signatures ⊂ minhash_lsh_pairs,
# simhash_signatures ⊂ simhash_pairs, dedup_exact ⊂ dedup_normalized,
# doc_fingerprint ⊂ text_stats, ivf_topk + kmeans_centroids ⊂
# ivf_topk_trained (k-means CTE prefix + the same IVF probe),
# dedup_clusters ⊂ dedup_keep_canonical (same composed CC oracle).
def _union_all_sql(*sqls: str) -> str:
    return "\nUNION ALL\n".join(
        f"SELECT * FROM ({s.strip()})" for s in sqls)


def q_c1_c2_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 in-list + C2 date-range findings, one findings-schema union."""
    return q_c1_in_list(spark, sf_dir) \
        .unionByName(q_c2_date_range(spark, sf_dir))


def q_c3_c4_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 float-range + C3 int-range + C4 string-type findings."""
    return (q_c3_number_range(spark, sf_dir)
            .unionByName(q_c3_int_check(spark, sf_dir))
            .unionByName(q_c4_string_check(spark, sf_dir)))


def q_c1_c4_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1–C4 findings (in-list, date-range, float/int-range, string-type)
    plus the A6 keyed-per-sheet findings dedup — one findings-schema
    union, merged to free registry slots for cross_dedup and
    multimodal_decode while every sibling stays driver-checked."""
    return (q_c1_c2_checks(spark, sf_dir)
            .unionByName(q_c3_c4_checks(spark, sf_dir))
            .unionByName(q_a6_dedup_findings(spark, sf_dir)))


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal decode path, driver-hash-checked end to end:
    synthesize a deterministic binary P6 PPM payload per document (4x4
    RGB, pixel bytes = the text's first 48 ASCII codes), push it through
    the REAL Arrow-batched ``mapInPandas`` decoder
    (``operators/multimodal.decode_image_features`` →
    ``_decode_ppm``), and emit the decoded features. The DuckDB oracle
    recomputes every feature from the character codes — so the Python
    decode stage (bytes → header parse → pixel mean) is value-checked,
    not just rows-counted. ASCII guard keeps byte == code-point parity.
    """
    from nci_seronet_proc_data_validator_spark.operators.multimodal import (
        decode_image_features)
    docs = (read_table(spark, sf_dir, "documents")
            .filter(F.length("text") >= 48)
            .filter(F.col("text").rlike("^[ -~]*$")))
    header = bytes("P6\n4 4\n255\n", "ascii")
    payloads = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit(header),
                 F.encode(F.substring("text", 1, 48), "UTF-8"))
        .alias("payload"))
    feats = decode_image_features(payloads)
    return (feats.select(
        F.col("media_id").alias("doc_id"), "n_bytes", "payload_sha",
        "thumb_w", "thumb_h",
        F.round("brightness", 6).alias("bright6"))
        .orderBy("doc_id"))


def _sql_multimodal_decode() -> str:
    """Oracle: the PPM the Spark side builds is header (11 bytes) + the
    first 48 text chars; decode means brightness = mean(char codes)/255,
    thumb = 4x4 (fit caps at 1x), payload_sha = the structural stub's
    31-rolling hash over ALL 59 payload bytes (< its 64-byte window)."""
    header = "P6\n4 4\n255\n"
    hdr_codes = ", ".join(str(b) for b in header.encode())
    return f"""
WITH d AS (
  SELECT doc_id, substr(text, 1, 48) AS px
  FROM documents
  WHERE length(text) >= 48 AND regexp_full_match(text, '[ -~]*')),
c AS (
  SELECT doc_id,
         [{hdr_codes}] ||
         list_transform(generate_series(1, 48),
                        i -> CAST(unicode(substr(px, i, 1)) AS BIGINT))
           AS codes,
         list_transform(generate_series(1, 48),
                        i -> CAST(unicode(substr(px, i, 1)) AS BIGINT))
           AS pix
  FROM d)
SELECT doc_id,
       CAST(59 AS BIGINT) AS n_bytes,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
                        (a, b) -> (a * 31 + b) % 2147483647) AS INTEGER)
         AS payload_sha,
       CAST(4 AS INTEGER) AS thumb_w, CAST(4 AS INTEGER) AS thumb_h,
       round((CAST(list_sum(pix) AS DOUBLE) / 48) / 255, 6) AS bright6
FROM c ORDER BY doc_id
"""


# new batch = every 10th document; corpus = the rest (same predicates in
# the oracle SQL so both engines split identically at any SF)
_CROSS_NEW_PRED = "doc_id % 10 = 0"
_CROSS_CORPUS_PRED = "doc_id % 10 <> 0"


def q_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new batch against the existing corpus
    (``operators/dedup.cross_corpus_pairs``) — the probe-an-index shape,
    cost ∝ batch size, not corpus size."""
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        cross_corpus_pairs)
    docs = read_table(spark, sf_dir, "documents")
    new = docs.filter(F.expr(_CROSS_NEW_PRED))
    corpus = docs.filter(F.expr(_CROSS_CORPUS_PRED))
    return (cross_corpus_pairs(new, corpus)
            .orderBy("new_id", "corpus_id"))


def q_c5_c6_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 id-format + C6 duplicate-id findings."""
    return q_c5_id_format(spark, sf_dir) \
        .unionByName(q_c6_dup_ids(spark, sf_dir))


def q_c7_c8_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 substring + C8 dictionary-lookup findings."""
    return q_c7_substr(spark, sf_dir) \
        .unionByName(q_c8_dict_lookup(spark, sf_dir))


def q_c5_c8_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 id-format + C6 duplicate-id + C7 substring + C8 dictionary
    findings — one findings-schema union, merged (round 4) to free the
    registry slot ``pq_ann`` takes while every sibling check stays
    driver-verified."""
    return q_c5_c6_checks(spark, sf_dir) \
        .unionByName(q_c7_c8_checks(spark, sf_dir))


SKETCH_PROBE_WORDS = ["join", "hash", "data", "vector", "nosuchword"]


def q_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch analytics (``operators/sketches.py``) in one
    (sketch, key, value) tagged union: per-language HLL distinct-token
    registers (harmonic estimate + zero-bucket count for the driver-side
    LinearCounting correction), Count-Min point queries for a fixed probe
    vocabulary, each sketch beside its EXACT twin so the approximation
    error is part of the checked surface — plus the exact per-language
    length percentiles the sketch tier replaces at 100 TB
    (``approx_percentile``'s t-digest is the drop-in)."""
    from nci_seronet_proc_data_validator_spark.operators.sketches import (
        cms_build, cms_point_query, hll_distinct, token_counts)
    docs = read_table(spark, sf_dir, "documents")
    # ONE tokenize scan + one (lang, tok) multiplicity aggregate feeds
    # all four token arms (r13): the HLL registers hash distinct tokens
    # and sum counts, the CMS counters re-aggregate globally, and both
    # exact twins are trivial reads of the same table — previously each
    # arm re-tokenized the corpus (4 scans) and hashed per OCCURRENCE.
    tc = token_counts(docs.select(F.col("lang").alias("key"), "text"),
                      ["key"]).persist()
    # persist: the estimate and zero-bucket arms both read this tiny
    # (one row per lang) frame — one register pass, not two
    hll = hll_distinct(docs, "lang", tok_counts=tc).persist()
    h = hll.select(F.lit("hll_distinct_words").alias("sketch"),
                   "key", F.col("hll_estimate").alias("value"))
    z = hll.select(F.lit("hll_zero_buckets").alias("sketch"),
                   "key", F.col("zero_buckets").cast("double")
                   .alias("value"))
    ex_d = (tc.groupBy("key")
            .agg(F.count(F.lit(1)).cast("double").alias("value"))
            .select(F.lit("exact_distinct_words").alias("sketch"),
                    "key", "value"))
    cms = (cms_point_query(cms_build(docs, tok_counts=tc), spark,
                           SKETCH_PROBE_WORDS)
           .select(F.lit("cms_count").alias("sketch"),
                   F.col("word").alias("key"),
                   F.col("cms_count").cast("double").alias("value")))
    ex_c = (tc.filter(F.col("tok").isin(SKETCH_PROBE_WORDS))
            .groupBy(F.col("tok").alias("key"))
            .agg(F.sum("_c").cast("double").alias("value"))
            .select(F.lit("exact_count").alias("sketch"), "key", "value"))
    pct = (q_length_percentiles(spark, sf_dir)
           .selectExpr("lang AS key", "p10", "p50", "p90")
           .selectExpr("key", "stack(3, 'p10', p10, 'p50', p50, "
                              "'p90', p90) AS (sketch, value)")
           .select("sketch", "key", "value"))
    from nci_seronet_proc_data_validator_spark.operators.sketches import (
        hist_quantiles)
    hq = (hist_quantiles(docs, "n_chars", "lang")
          .select(F.concat(F.lit("histq_"), F.col("q_num"),
                           F.lit("_"), F.col("q_den")).alias("sketch"),
                  "key", F.col("est").cast("double").alias("value")))
    # top principal direction of the embedding table: ONE integer gram
    # aggregation (data-scale, order-free) + model-scale power iteration
    # mirroring the oracle's CTE chain bit for bit (operators/pca.py)
    from nci_seronet_proc_data_validator_spark.operators.pca import (
        POW_XSCALE, int_gram_fit, power_iteration_top_component)
    emb = read_table(spark, sf_dir, "embeddings")
    gn, gs, gg = int_gram_fit(emb, 64)
    xv = power_iteration_top_component(gn, gs, gg, 64, iters=64)
    from nci_seronet_proc_data_validator_spark.errors import local_rows_df
    pw = local_rows_df(
        spark,
        [("power_iter", f"pos_{i:02d}", v / POW_XSCALE)
         for i, v in enumerate(xv)], "sketch string, key string, value double")
    return (h.unionByName(z).unionByName(ex_d).unionByName(cms)
            .unionByName(ex_c).unionByName(pct).unionByName(hq)
            .unionByName(pw))


def _sql_sketch_profile() -> str:
    from nci_seronet_proc_data_validator_spark.operators.sketches import (
        cms_oracle_sql, hll_distinct_oracle_sql)
    words = ", ".join(f"'{w}'" for w in SKETCH_PROBE_WORDS)
    return f"""
WITH hllr AS MATERIALIZED ({hll_distinct_oracle_sql('lang').strip()})
SELECT 'hll_distinct_words' AS sketch, key, hll_estimate AS value
FROM hllr
UNION ALL
SELECT 'hll_zero_buckets' AS sketch, key,
       CAST(zero_buckets AS DOUBLE) AS value
FROM hllr
UNION ALL
SELECT 'exact_distinct_words' AS sketch, lang AS key,
       CAST(count(DISTINCT tok) AS DOUBLE) AS value
FROM (SELECT lang, unnest(list_filter(string_split_regex(text, ' +'),
                                      x -> x <> '')) AS tok
      FROM documents) GROUP BY 2
UNION ALL
SELECT 'cms_count' AS sketch, word AS key,
       CAST(cms_count AS DOUBLE) AS value
FROM ({cms_oracle_sql(SKETCH_PROBE_WORDS).strip()})
UNION ALL
SELECT 'exact_count' AS sketch, tok AS key,
       CAST(count(*) AS DOUBLE) AS value
FROM (SELECT unnest(list_filter(string_split_regex(text, ' +'),
                                x -> x <> '')) AS tok
      FROM documents)
WHERE tok IN ({words}) GROUP BY 2
UNION ALL
SELECT p.sketch, p.key, p.value FROM (
  SELECT lang AS key,
         unnest(['p10', 'p50', 'p90']) AS sketch,
         unnest([round(quantile_cont(n_chars, 0.1), 6),
                 round(quantile_cont(n_chars, 0.5), 6),
                 round(quantile_cont(n_chars, 0.9), 6)]) AS value
  FROM documents GROUP BY lang) p
UNION ALL
SELECT concat('histq_', q_num, '_', q_den) AS sketch, key,
       CAST(est AS DOUBLE) AS value
FROM ({_hist_quantiles_sql()})
UNION ALL
SELECT 'power_iter' AS sketch,
       concat('pos_', lpad(CAST(pos AS VARCHAR), 2, '0')) AS key,
       CAST(val AS DOUBLE) / 1000000 AS value
FROM ({_power_iter_sql()})
"""


def _power_iter_sql() -> str:
    from nci_seronet_proc_data_validator_spark.operators.pca import (
        power_iter_oracle_sql)
    return power_iter_oracle_sql(64, iters=64).strip()


def _hist_quantiles_sql() -> str:
    from nci_seronet_proc_data_validator_spark.operators.sketches import (
        hist_quantiles_oracle_sql)
    return hist_quantiles_oracle_sql("n_chars", "lang").strip()


_PQ_CFG = dict(dim=64, m=4, ksub=8, iters=2)


def q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization ANN (``operators/pq.py``) in one tagged
    union: 'adc' = the compressed-domain full scan (asymmetric-distance
    top-k over m-byte codes), 'ivfpq' = the FAISS IVF-PQ shape (coarse
    cosine routing to nprobe clusters, integer ADC over probed codes
    only). Both arms share the trained subspace codebooks; every
    distance is exact int64 micro-unit² arithmetic, so the DuckDB twin
    matches bit for bit."""
    from nci_seronet_proc_data_validator_spark.operators.kmeans import (
        QUANT)
    from nci_seronet_proc_data_validator_spark.operators.pq import (
        ivfpq_topk, pq_adc_topk, pq_encode, pq_fit_fused)
    from nci_seronet_proc_data_validator_spark.operators.similarity import (
        ivf_assign_literal)
    emb = read_table(spark, sf_dir, "embeddings")
    # one fused Lloyd chain trains the m subspace codebooks AND the
    # coarse IVF centroids (the full vector rides as slice m+1)
    all_books, all_cids = pq_fit_fused(emb, **_PQ_CFG, include_full=True)
    books, coarse, coarse_cids = \
        all_books[:_PQ_CFG["m"]], all_books[-1], all_cids[-1]
    cent_list = [(int(c), [x / QUANT for x in vec])
                 for c, vec in zip(coarse_cids, coarse)]
    # one MAP-ONLY assign+encode pass (centroids ride as literals — no
    # crossJoin, no window) serves both arms; persist so the union's two
    # branches share one build of the code index (no unpersist hook — the
    # frame outlives this lazy function; bench/driver clearCache() between
    # runs, the same lifetime contract as rulebook_full's per-sheet persist)
    codes = pq_encode(ivf_assign_literal(emb, cent_list), books).persist()
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    adc = (pq_adc_topk(codes, queries, books, k=5)
           .select(F.lit("adc").alias("op"), "*"))
    ivf = (ivfpq_topk(None, None, books, queries, k=5, nprobe=2,
                      codes=codes, centroid_list=cent_list)
           .select(F.lit("ivfpq").alias("op"), "*"))
    return adc.unionByName(ivf)


def _sql_pq_ann() -> str:
    from nci_seronet_proc_data_validator_spark.operators.pq import (
        ivfpq_oracle_sql, pq_adc_oracle_sql)
    adc = pq_adc_oracle_sql(**_PQ_CFG, n_queries=5, k=5)
    ivf = ivfpq_oracle_sql(**_PQ_CFG, coarse_k=8, coarse_iters=2,
                           n_queries=5, k=5, nprobe=2)
    return (f"SELECT 'adc' AS op, * FROM ({adc.strip()})\n"
            f"UNION ALL\nSELECT 'ivfpq' AS op, * FROM ({ivf.strip()})")


def q_c9_c12_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 assay resolution + C10 live≤total + C11 viability + C12
    conditional-missing findings."""
    return (q_c9_assay_resolution(spark, sf_dir)
            .unionByName(q_c10_live_le_total(spark, sf_dir))
            .unionByName(q_c11_viability(spark, sf_dir))
            .unionByName(q_c12_missing_sars(spark, sf_dir)))


def q_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three ANN tiers in one tagged union — brute-force cosine top-10
    (the exactness baseline), the k-means-trained IVF probe (the
    partition-pruning scale path), and int8 quantize-then-rerank (the
    memory-bandwidth scale path) — plus their reciprocal-rank-fusion
    ensemble ('rrf': for that arm the sim6 column carries the fused RRF
    score); identical (query_id, neighbor_id, sim6, rank) shapes."""
    from nci_seronet_proc_data_validator_spark.operators.search import (
        rrf_fuse)
    from nci_seronet_proc_data_validator_spark.operators.similarity import (
        quantized_topk)
    b = q_embedding_topk(spark, sf_dir)
    i = q_ivf_topk_trained(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    q = quantized_topk(emb, queries, k=5, cand=20)
    r = rrf_fuse([b, i, q]).withColumnRenamed("rrf6", "sim6")
    return (b.select(F.lit("brute").alias("op"), "*")
            .unionByName(i.select(F.lit("ivf").alias("op"), "*"))
            .unionByName(q.select(F.lit("quant").alias("op"), "*"))
            .unionByName(r.select(F.lit("rrf").alias("op"), "*")))


def _sql_embedding_ann() -> str:
    from nci_seronet_proc_data_validator_spark.operators.kmeans import (
        kmeans_centroid_vectors_cte, kmeans_ctes)
    from nci_seronet_proc_data_validator_spark.operators.search import (
        rrf_oracle_sql)
    from nci_seronet_proc_data_validator_spark.operators.similarity import (
        ivf_topk_oracle_sql, quantized_topk_oracle_sql)
    ivf = ivf_topk_oracle_sql(
        n_queries=5, k=5, nprobe=2,
        prefix_ctes=kmeans_ctes(k=8, iters=2),
        cent_cte=kmeans_centroid_vectors_cte(k=8, iters=2))
    quant = quantized_topk_oracle_sql(n_queries=5, k=5, cand=20)
    rrf = rrf_oracle_sql(["arm_b", "arm_i", "arm_q"])
    return f"""
WITH arm_b AS ({SQL_EMB_TOPK.strip()}),
arm_i AS ({ivf.strip()}),
arm_q AS ({quant.strip()})
SELECT 'brute' AS op, * FROM arm_b
UNION ALL
SELECT 'ivf' AS op, * FROM arm_i
UNION ALL
SELECT 'quant' AS op, * FROM arm_q
UNION ALL
SELECT 'rrf' AS op, query_id, neighbor_id, rrf6 AS sim6, rank
FROM ({rrf.strip()})"""


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned tokenizer end to end (``operators/bpe.py``) in one
    tagged union: BPE merge training (arXiv:1508.07909 — one corpus scan
    to the word-frequency table, then per merge a pair agg + 1-row model
    sync + map-only string-replace merge) as 'merge' rows, and every
    document encoded with the learned merges (map-only replace chain,
    token count + sequence hash) as 'doc' rows."""
    from nci_seronet_proc_data_validator_spark.operators.bpe import (
        bpe_encode, bpe_train)
    docs = read_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=12)
    mrows = merges.select(
        F.lit("merge").alias("part"),
        F.col("step").cast("string").alias("key"),
        F.col("left_sym").alias("sym_a"), F.col("right_sym").alias("sym_b"),
        F.col("weight").alias("n"), F.col("merged").alias("h"))
    model = [(r["left_sym"], r["right_sym"])
             for r in merges.orderBy("step").collect()]
    drows = bpe_encode(docs, model).select(
        F.lit("doc").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.lit("").alias("sym_a"), F.lit("").alias("sym_b"),
        F.col("n_bpe_tokens").alias("n"), F.col("seq_hash").alias("h"))
    return mrows.unionByName(drows)


def _sql_bpe_train() -> str:
    from nci_seronet_proc_data_validator_spark.operators.bpe import (
        bpe_encode_oracle_sql, bpe_train_oracle_sql)
    return f"""
SELECT 'merge' AS part, CAST(step AS VARCHAR) AS key, left_sym AS sym_a,
       right_sym AS sym_b, weight AS n, merged AS h
FROM ({bpe_train_oracle_sql(n_merges=12).strip()})
UNION ALL
SELECT 'doc' AS part, CAST(doc_id AS VARCHAR) AS key, '' AS sym_a,
       '' AS sym_b, n_bpe_tokens AS n, seq_hash AS h
FROM ({bpe_encode_oracle_sql(n_merges=12).strip()})
"""


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540), BOTH parameterizations as one tagged
    union: k-means clusters bound the candidate pairs, integer-exact
    within-cluster cosine, deterministic id-minimal keep rule
    (``operators/semdedup.py``).

    - ``arm='pinned'``: fixed ``k=8``. **Scale warning — this is the
      suite's one superlinear configuration**: a FIXED cluster count
      means within-cluster pair work grows as N²/8 — measured
      ×13.4/decade at sf1 (BENCH_NOTES r8). It exists for deterministic
      model shape, not production.
    - ``arm='auto'``: ``k=None`` → k = max(8, isqrt(N)) via one count
      job, balancing assignment O(N·k·d) against pairing O(N²/k) at
      O(N^1.5) — ×3.6/decade measured. **Copy THIS arm for anything
      beyond test scale** (``q_semdedup_auto``). Its oracle mirrors the
      runtime k with a scalar-subquery LIMIT in the centroid init, so
      the auto arm is fully hash-checked too, not rows-only."""
    return (q_semdedup_pinned(spark, sf_dir)
            .select(F.lit("pinned").alias("arm"), "*")
            .unionAll(q_semdedup_auto(spark, sf_dir)
                      .select(F.lit("auto").alias("arm"), "*"))
            .orderBy("arm", "vec_id"))


def q_semdedup_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-k SemDeDup (oracle-deterministic model shape; see the scale
    warning on ``q_semdedup`` — do not copy this for production)."""
    from nci_seronet_proc_data_validator_spark.operators.semdedup import (
        semdedup)
    emb = read_table(spark, sf_dir, "embeddings")
    # max_rows declares the bound this pinned-k form relies on: the
    # oracle/bench scales top out at 20k vectors (sf1), declared with 5x
    # headroom. Without a declared bound the scale advisor flags fixed k
    # over unbounded input — correctly (plans/advisor.py).
    return semdedup(emb, k=8, iters=2, threshold=0.45, max_rows=100_000)


def _sql_semdedup() -> str:
    from nci_seronet_proc_data_validator_spark.operators.semdedup import (
        semdedup_oracle_sql)
    pinned = semdedup_oracle_sql(k=8, iters=2, threshold=0.45).strip()
    return (f"SELECT 'pinned' AS arm, * FROM ({pinned})"
            f" UNION ALL {_sql_semdedup_auto_arm()}"
            f" ORDER BY arm, vec_id")


def q_semdedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's production configuration: ``k=None`` scales the cluster
    count with the corpus (k = max(8, isqrt(N)), one count job), keeping
    assignment O(N·k·d) and within-cluster pairing O(N²/k) balanced at
    O(N^1.5) — ×3.6/decade measured vs ×13.4 for the pinned-k form
    (BENCH_NOTES r8)."""
    from nci_seronet_proc_data_validator_spark.operators.semdedup import (
        semdedup)
    emb = read_table(spark, sf_dir, "embeddings")
    return semdedup(emb, k=None, iters=2, threshold=0.45)


def _sql_semdedup_auto_arm() -> str:
    from nci_seronet_proc_data_validator_spark.operators.semdedup import (
        semdedup_oracle_sql)
    # Exact integer sqrt (Python's math.isqrt) in SQL: start from the
    # float sqrt and correct the ±1-ulp edge, so k matches the Spark
    # driver's isqrt(count) bit-for-bit at any N.
    isqrt = ("CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)")
    k_expr = (f"(SELECT GREATEST(8, CASE WHEN (s + 1) * (s + 1) <= n "
              f"THEN s + 1 WHEN s * s > n THEN s - 1 ELSE s END) FROM "
              f"(SELECT {isqrt} AS s, count(*) AS n FROM embeddings))")
    auto = semdedup_oracle_sql(k=k_expr, iters=2, threshold=0.45).strip()
    return f"SELECT 'auto' AS arm, * FROM ({auto})"


def _sql_semdedup_auto() -> str:
    """Standalone oracle for ``q_semdedup_auto`` (test surface)."""
    return (f"SELECT vec_id, cluster_id, keep FROM "
            f"({_sql_semdedup_auto_arm()}) ORDER BY vec_id")


_HOUR_US = 3_600_000_000


FUNNEL_STEPS = ["view", "click", "purchase"]


def q_events_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hourly + hopping-window rollups + the sequential
    view→click→purchase conversion funnel (``operators/funnel.py``;
    window_start carries the step index) in one tagged union; all arms
    emit (window_kind, window_start, window_end, event_type, n_events,
    sum_value) with bounds as epoch micros per the timestamp contract."""
    h = (q_events_hourly(spark, sf_dir)
         .select(F.lit("hourly").alias("window_kind"),
                 F.unix_micros("hour").alias("window_start"),
                 (F.unix_micros("hour") + F.lit(_HOUR_US))
                 .alias("window_end"),
                 "event_type",
                 F.col("n").alias("n_events"),
                 F.col("total_value").alias("sum_value")))
    s = (q_events_sliding(spark, sf_dir)
         .select(F.lit("sliding").alias("window_kind"), "window_start",
                 "window_end", F.lit("").alias("event_type"), "n_events",
                 "sum_value"))
    from nci_seronet_proc_data_validator_spark.operators.funnel import (
        funnel_counts, funnel_lags)
    ev = read_events(spark, sf_dir)
    f = (funnel_counts(ev, FUNNEL_STEPS)
         .select(F.lit("funnel").alias("window_kind"),
                 F.col("step").cast("long").alias("window_start"),
                 F.lit(0).cast("long").alias("window_end"),
                 F.col("step_name").alias("event_type"),
                 F.col("n_users").alias("n_events"),
                 F.lit(0.0).alias("sum_value")))
    # time-to-convert: median lag rides sum_value (micros, rounded 6)
    g = (funnel_lags(ev, FUNNEL_STEPS)
         .select(F.lit("funnel_lag").alias("window_kind"),
                 F.col("step").cast("long").alias("window_start"),
                 F.lit(0).cast("long").alias("window_end"),
                 F.col("step_name").alias("event_type"),
                 F.col("n_users").alias("n_events"),
                 F.col("median_lag_us").alias("sum_value")))
    # cohort retention (the former standalone user_retention query):
    # window bounds carry (cohort_week, active_week)
    r = (q_user_retention(spark, sf_dir)
         .select(F.lit("retention").alias("window_kind"),
                 F.col("cohort_week").alias("window_start"),
                 F.col("week").alias("window_end"),
                 F.lit("").alias("event_type"),
                 F.col("n_users").alias("n_events"),
                 F.lit(0.0).alias("sum_value")))
    return (h.unionByName(s).unionByName(f).unionByName(g)
            .unionByName(r))


SQL_EVENTS_WINDOWS = f"""
SELECT 'hourly' AS window_kind,
       epoch_us(CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP))
         AS window_start,
       epoch_us(CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP))
         + {_HOUR_US} AS window_end,
       event_type, count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2, 3, 4
UNION ALL
SELECT 'sliding' AS window_kind, window_start, window_end,
       '' AS event_type, n_events, sum_value
FROM ({SQL_EVENTS_SLIDING.strip()})
UNION ALL
SELECT 'funnel' AS window_kind, CAST(step AS BIGINT) AS window_start,
       CAST(0 AS BIGINT) AS window_end, step_name AS event_type,
       n_users AS n_events, 0.0 AS sum_value
FROM ({{funnel_sql}})
UNION ALL
SELECT 'funnel_lag' AS window_kind, CAST(step AS BIGINT) AS window_start,
       CAST(0 AS BIGINT) AS window_end, step_name AS event_type,
       n_users AS n_events, median_lag_us AS sum_value
FROM ({{funnel_lag_sql}})
UNION ALL
SELECT 'retention' AS window_kind, cohort_week AS window_start,
       week AS window_end, '' AS event_type, n_users AS n_events,
       0.0 AS sum_value
FROM ({SQL_USER_RETENTION.strip()})
"""


def _sql_events_windows() -> str:
    from nci_seronet_proc_data_validator_spark.operators.funnel import (
        funnel_lags_oracle_sql, funnel_oracle_sql)
    return SQL_EVENTS_WINDOWS.format(
        funnel_sql=funnel_oracle_sql(FUNNEL_STEPS).strip(),
        funnel_lag_sql=funnel_lags_oracle_sql(FUNNEL_STEPS).strip())


_ZORDER_COLS = [("o_custkey", 0, 1_500_000), ("o_orderkey", 0, 6_000_000)]


def q_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-plan scale techniques in one tagged union: salted
    two-phase aggregation + salt-replicated join (both must equal the
    plain groupBy / plain join the oracle runs) + the Z-order Morton key
    (``operators/layout.py``) over orders — the engine-shared interleave
    expression, checked bit for bit (the clustered WRITE itself is
    covered by test_layout; range-partition file boundaries are sampled,
    so per-file content is not oracle-stable)."""
    from nci_seronet_proc_data_validator_spark.operators.layout import (
        with_zorder_key)
    a = (q_skew_salted_agg(spark, sf_dir)
         .select(F.lit("salted_agg").alias("op"),
                 F.col("l_returnflag").alias("key"),
                 F.col("count").alias("n"),
                 F.lit(0.0).cast("double").alias("total_value")))
    j = (q_skew_salted_join(spark, sf_dir)
         .select(F.lit("salted_join").alias("op"),
                 F.col("c_mktsegment").alias("key"),
                 F.col("n_orders").alias("n"),
                 F.col("total_price").alias("total_value")))
    z = (with_zorder_key(read_table(spark, sf_dir, "orders"), _ZORDER_COLS)
         .select(F.lit("zorder_key").alias("op"),
                 F.col("o_orderkey").cast("string").alias("key"),
                 F.col("zkey").alias("n"),
                 F.lit(0.0).cast("double").alias("total_value")))
    return a.unionByName(j).unionByName(z)


def _sql_skew_salted() -> str:
    from nci_seronet_proc_data_validator_spark.operators.layout import (
        zorder_key_sql)
    zkey = zorder_key_sql(_ZORDER_COLS, dialect="duck")
    return f"""
SELECT 'salted_agg' AS op, l_returnflag AS key, count(*) AS n,
       CAST(0.0 AS DOUBLE) AS total_value
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT 'salted_join' AS op, c_mktsegment AS key, count(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
UNION ALL
SELECT 'zorder_key', CAST(o_orderkey AS VARCHAR), {zkey},
       CAST(0.0 AS DOUBLE)
FROM orders
"""


SQL_SKEW_SALTED = _sql_skew_salted()


def q_chunk_and_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking joined with the deterministic train/val
    split — the two map-only training-prep operators composed the way a
    real pipeline consumes them (every chunk inherits its document's
    split)."""
    from nci_seronet_proc_data_validator_spark.operators.training import (
        chunk_documents, train_val_split)
    docs = read_table(spark, sf_dir, "documents")
    chunks = (chunk_documents(docs, chunk_chars=500, overlap=100)
              .select("doc_id", "chunk_idx", "chunk_len", "chunk_hash"))
    return (chunks.join(train_val_split(docs, val_pct=10), "doc_id")
            .orderBy("doc_id", "chunk_idx"))


def _sql_chunk_and_split() -> str:
    from nci_seronet_proc_data_validator_spark.operators.training import (
        chunk_documents_oracle_sql, train_val_split_oracle_sql)
    return f"""
SELECT c.doc_id, c.chunk_idx, c.chunk_len, c.chunk_hash,
       s.split, s.shuffle_key
FROM ({chunk_documents_oracle_sql(500, 100).strip()}) c
JOIN ({train_val_split_oracle_sql(val_pct=10).strip()}) s
  ON c.doc_id = s.doc_id
ORDER BY c.doc_id, c.chunk_idx
"""


# ------------------------------------------------- round-4 continuations


def q_temporal_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both temporal-join operators in one tagged union: the as-of join
    (composed union+window) and the bucketed interval join — each arm is
    the previously-standalone driver query, unchanged."""
    a = (q_asof_join(spark, sf_dir)
         .select(F.lit("asof").alias("op"),
                 F.col("event_id").alias("id"),
                 F.lit(0).cast("long").alias("n_events"),
                 F.col("err_value").cast("double").alias("sum_value")))
    i = (q_interval_join(spark, sf_dir)
         .select(F.lit("interval").alias("op"),
                 F.col("interval_id").alias("id"), "n_events",
                 "sum_value"))
    return a.unionByName(i)


SQL_TEMPORAL_JOINS = f"""
SELECT 'asof' AS op, event_id AS id, CAST(0 AS BIGINT) AS n_events,
       CAST(err_value AS DOUBLE) AS sum_value
FROM ({SQL_ASOF.strip()})
UNION ALL
SELECT 'interval' AS op, interval_id AS id, n_events, sum_value
FROM ({SQL_INTERVAL_JOIN.strip()})
"""


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage: part names with one deterministic character
    deletion (position 5) linked back to the clean catalog by the
    blocked edit-distance join (``operators/linkage.py``). Every dirty
    row must find its source at distance 1; near-twin names may add
    further pairs — both engines derive the same candidate set from the
    same block keys."""
    from nci_seronet_proc_data_validator_spark.operators.linkage import (
        fuzzy_join)
    part = read_table(spark, sf_dir, "part")
    # link DISTINCT name strings (canonical id = min part key per name),
    # the textbook shape: the synthetic catalog repeats each name ~30x,
    # and linking raw rows would square that multiplicity into the pair
    # count — dedup-then-link keeps candidate volume ∝ distinct names
    clean = (part.groupBy(F.col("p_name").alias("name"))
             .agg(F.min("p_partkey").cast("long").alias("pid")))
    dirty = clean.select(
        (F.col("pid") + 50_000_000).alias("did"),
        F.concat(F.substring("name", 1, 4),
                 F.expr("substring(name, 6)")).alias("name"))
    return (fuzzy_join(dirty, clean, "did", "name", "pid", "name",
                       max_dist=2)
            .orderBy("did", "pid"))


def _sql_fuzzy_join() -> str:
    from nci_seronet_proc_data_validator_spark.operators.linkage import (
        fuzzy_join_oracle_sql)
    clean = ("SELECT p_name AS name, CAST(min(p_partkey) AS BIGINT) AS pid "
             "FROM part GROUP BY p_name")
    dirty = (f"SELECT pid + 50000000 AS did, "
             f"substr(name, 1, 4) || substr(name, 6) AS name "
             f"FROM ({clean})")
    inner = fuzzy_join_oracle_sql(dirty, clean, "did", "name",
                                  "pid", "name", max_dist=2)
    return f"SELECT * FROM ({inner}) ORDER BY did, pid"


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI MERGE over the orders snapshot: a CDC batch of updates
    (keys ending 0-2: status 'U', +5% price), inserts (keys ending 7
    re-keyed +1e8, status 'N') and deletes (keys ≡ 0 mod 97), applied by
    ``operators/mergeop.merge_upsert`` — one full-outer sort-merge join.
    The next snapshot is summarized by (status, key mod 7) so the
    driver's value hash covers every row's fate without shipping the
    whole table."""
    from nci_seronet_proc_data_validator_spark.operators.mergeop import (
        merge_upsert)
    snap = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_orderstatus").alias("s"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    ups = (snap.filter(F.col("k") % 10 < 3)
           .select("k", F.lit("U").alias("s"),
                   F.expr("cents * 105 div 100").alias("cents")))
    ins = (snap.filter(F.col("k") % 10 == 7)
           .select((F.col("k") + 100_000_000).alias("k"),
                   F.lit("N").alias("s"), "cents"))
    # planted NULL delete key (review r5): a CDC feed can carry one; it
    # must be a no-op (left_anti: NULL matches nothing) — and it is what
    # turned the old NOT-IN oracle into an empty target
    dels = (snap.filter(F.col("k") % 97 == 0).select("k")
            .unionByName(snap.limit(1)
                         .select(F.lit(None).cast("long").alias("k"))))
    merged = merge_upsert(snap, ups.unionByName(ins), "k", deletes=dels)
    return (merged.groupBy("s", (F.col("k") % 7).alias("kmod"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("cents").alias("sum_cents"),
                 F.min("k").alias("min_k"), F.max("k").alias("max_k"))
            .orderBy("s", "kmod"))


def _sql_merge_upsert() -> str:
    from nci_seronet_proc_data_validator_spark.operators.mergeop import (
        merge_upsert_oracle_sql)
    snap = ("SELECT o_orderkey AS k, o_orderstatus AS s, "
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents "
            "FROM orders")
    ups = (f"SELECT k, 'U' AS s, (cents * 105) // 100 AS cents "
           f"FROM ({snap}) WHERE k % 10 < 3")
    ins = (f"SELECT k + 100000000 AS k, 'N' AS s, cents "
           f"FROM ({snap}) WHERE k % 10 = 7")
    dels = (f"SELECT k FROM ({snap}) WHERE k % 97 = 0 "
            f"UNION ALL SELECT CAST(NULL AS BIGINT) AS k")
    inner = merge_upsert_oracle_sql(snap, f"{ups} UNION ALL {ins}", "k",
                                    ["s", "cents"], deletes_sql=dels)
    return f"""
SELECT s, k % 7 AS kmod, count(*) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       min(k) AS min_k, max(k) AS max_k
FROM ({inner}) GROUP BY 1, 2 ORDER BY 1, 2
"""


_KNN_K = 6

_SUPP_PAIRS_SQL = """
SELECT a.l_suppkey AS a, b.l_suppkey AS b, count(*) AS w
FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
GROUP BY 1, 2
"""


def q_graph_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-analytics suite in one tagged union of (arm, node_id, val):

    - ``pagerank``: integer fixed-point PageRank over the bipartite
      customer↔supplier purchase graph (the former standalone query);
    - ``knn_degree``: node degrees of the k-NN graph (k=6) built from
      supplier co-occurrence weights (shared-order counts) — the
      sparsifier that bounds every downstream degree by 2k;
    - ``triangles``: per-node triangle counts over that k-NN graph
      (node-iterator, two equi-joins, no cartesian).
    """
    from concurrent.futures import ThreadPoolExecutor

    from nci_seronet_proc_data_validator_spark.operators.graph import (
        knn_graph, pagerank, triangle_counts)
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey")
    edges = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .select((F.col("o_custkey") * 2).alias("src"),
                     (F.col("l_suppkey") * 2 + 1).alias("dst"))
             .distinct())
    el = li.distinct()
    pairs = (el.alias("x")
             .join(el.alias("y"),
                   (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
                   & (F.col("x.l_suppkey") < F.col("y.l_suppkey")))
             .groupBy(F.col("x.l_suppkey").alias("a"),
                      F.col("y.l_suppkey").alias("b"))
             .agg(F.count(F.lit(1)).alias("w")))
    # The pagerank chain (edge checkpoint + node count) and the k-NN
    # build (self-join + window + checkpoint) are independent EAGER
    # pipelines; run them on two driver threads so their jobs back-fill
    # each other's stragglers (guide §2.6) instead of serializing —
    # measured 4.1 s → ~2.8 s for the union (r13).
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_pr = pool.submit(pagerank, edges, 3)
        # the two downstream arms share the materialized sparse graph
        # (the same contract as triangle_counts' own edge checkpoint)
        f_knn = pool.submit(
            lambda: knn_graph(pairs, k=_KNN_K).localCheckpoint())
        pr_ranks, knn = f_pr.result(), f_knn.result()
    pr = (pr_ranks
          .select(F.lit("pagerank").alias("arm"), "node_id",
                  F.col("rank").alias("val")))
    deg = (knn.select(F.col("a").alias("node_id"))
           .union(knn.select(F.col("b").alias("node_id")))
           .groupBy("node_id").agg(F.count(F.lit(1)).alias("val"))
           .select(F.lit("knn_degree").alias("arm"), "node_id", "val"))
    # knn is already a checkpoint; a second materialization of its
    # projection would be a wasted eager pass
    tri = (triangle_counts(knn, materialize=False)
           .select(F.lit("triangles").alias("arm"), "node_id",
                   F.col("triangles").alias("val")))
    return (pr.unionByName(deg).unionByName(tri)
            .orderBy("arm", "node_id"))


def _sql_graph_metrics() -> str:
    from nci_seronet_proc_data_validator_spark.operators.graph import (
        knn_graph_oracle_sql, pagerank_oracle_sql, triangle_counts_oracle_sql)
    pr = pagerank_oracle_sql(_PR_EDGES_SQL, iters=3)
    knn = knn_graph_oracle_sql(_SUPP_PAIRS_SQL, k=_KNN_K)
    tri = triangle_counts_oracle_sql("SELECT * FROM knn_edges")
    return f"""
WITH knn_edges AS MATERIALIZED ({knn})
SELECT * FROM (
  SELECT 'pagerank' AS arm, node_id, rank AS val FROM ({pr})
  UNION ALL
  SELECT 'knn_degree' AS arm, node_id, count(*) AS val
  FROM (SELECT a AS node_id FROM knn_edges
        UNION ALL SELECT b FROM knn_edges)
  GROUP BY node_id
  UNION ALL
  SELECT 'triangles' AS arm, node_id, triangles AS val FROM ({tri})
) ORDER BY arm, node_id
"""


def q_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both lossless-ish near-dup pair families as one tagged union
    (registry fusion of ``simhash_pairs`` + ``ngram_jaccard_pairs`` —
    same (id_a, id_b, score) candidate-pair shape, freeing the slot the
    schema-driven profiler takes): 'simhash' arm = 4 x 16-bit chunk
    buckets + hamming verify (score = hamming distance), 'ngram' arm =
    prefix-filtered exact n-gram Jaccard (score = jaccard). hamming is a
    small integer, exact as DOUBLE."""
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        ngram_jaccard_pairs, simhash_pairs)
    docs = read_table(spark, sf_dir, "documents")
    sh = simhash_pairs(docs, max_hamming=8).select(
        F.lit("simhash").alias("arm"), "id_a", "id_b",
        F.col("hamming").cast("double").alias("score"))
    ng = ngram_jaccard_pairs(docs, min_jaccard=0.05).select(
        F.lit("ngram").alias("arm"), "id_a", "id_b",
        F.col("jaccard").alias("score"))
    return sh.unionByName(ng).orderBy("arm", "id_a", "id_b")


def _sql_neardup_pairs() -> str:
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        ngram_jaccard_oracle_sql, simhash_pairs_oracle_sql)
    return f"""
SELECT 'simhash' AS arm, id_a, id_b, CAST(hamming AS DOUBLE) AS score
FROM ({simhash_pairs_oracle_sql().strip()})
UNION ALL
SELECT 'ngram' AS arm, id_a, id_b, jaccard AS score
FROM ({ngram_jaccard_oracle_sql().strip()})
ORDER BY arm, id_a, id_b
"""


# Static dtype contract for the profiled orders snapshot (parquet int64 →
# bigint, timestamp[us] → timestamp_ntz, plus the derived DATE column) —
# shared by the Spark query (sanity: df.dtypes must class-match) and the
# DuckDB oracle generator, covering every profiler type class.
_PROFILE_DTYPES = [
    ("o_orderkey", "bigint"), ("o_custkey", "bigint"),
    ("o_orderstatus", "string"), ("o_totalprice", "double"),
    ("o_orderdate", "timestamp_ntz"), ("o_orderpriority", "string"),
    ("o_orderdate_d", "date"),
]


# the anomaly arm's monitored columns (bounded on purpose: each adds 4
# masked metric twins incl. a distinct group, which widens the Expand)
_ANOM_COLS = ("o_orderkey", "o_orderstatus", "o_totalprice")


def _profile_constraints():
    from nci_seronet_proc_data_validator_spark.operators.profiler import (
        between, in_set, matches, non_negative, not_null, unique)
    return [
        not_null("o_orderkey"),
        unique("o_orderkey"),
        in_set("o_orderstatus", ["O", "F", "P"]),
        non_negative("o_totalprice"),
        between("o_totalprice", "5000", "300000"),   # planted: both tails
        matches("o_orderpriority", "^[12]-"),        # planted: 3-/4-/5-
    ]


def q_data_profile(spark: SparkSession, sf_dir: str,
                   approx: bool = False) -> DataFrame:
    """Deequ-style schema-driven data-quality tier (operators/profiler.py)
    in one tagged union of ``(arm, col_name, metric, value BIGINT)``:

    - 'profile': one-pass column metrics over orders + a derived DATE
      column — every type class (integral/floating/string/timestamp/date)
      in ONE map-side-partial aggregate;
    - 'verify': six constraint families compiled into ONE aggregation
      pass (violation counts; in_set holds at 0, between/matches planted
      nonzero);
    - 'fk': referential integrity lineitem.l_orderkey → orders minus the
      ≡0 (mod 7) keys (planted violations) — broadcast LEFT ANTI;
    - 'drift': profile-vs-profile comparison (full snapshot without the
      date column vs even-key slice with it), metric tagged with its
      added/changed/unchanged status, value = delta (new value for added
      columns).

    Generalizes the reference's hand-coded per-column rulebook
    (`/root/reference/Validation_Rules.py`) into the profile → suggest →
    verify tier a 100 TB ingest runs before any hand-written rule.

    - 'anomaly': mean±kσ anomaly flags of the newest quarter of the key
      space against the other three as metric history (the batched form
      of detect_anomalies; flag expression shared verbatim with the
      oracle) over the three monitored columns.

    Scale shape: profile + verify + drift are ONE fused aggregation pass
    over orders (``fused_quality_pass`` — conditional-count algebra, so
    the three tiers share one scan; the separate-op composition costs
    four), the anomaly arm is one more masked-metrics pass, and only the
    fk arm touches a second table.
    """
    from nci_seronet_proc_data_validator_spark.operators.profiler import (
        anomaly_slices_pass, fk_violations, fused_quality_pass)
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate_d", F.to_date("o_orderdate"))
    assert [c for c, _ in orders.dtypes] == [c for c, _ in _PROFILE_DTYPES]
    # approx=True swaps the FUSED pass's distinct metric for
    # approx_count_distinct. Do NOT copy it as an unconditional
    # "production switch": the sf10 A/B measured it SLOWER once the
    # global profile is scan-bound (SCALING_r09, 56.7 vs 31.3 s) —
    # production callers should pass approx_distinct="auto" to
    # fused_quality_pass, which applies the measured decision rule
    # (profiler.decide_approx_distinct: sketch for grouped/wide, exact
    # for narrow global). Exact stays the registered default because it
    # is oracle-checkable. bench key: data_profile_approx
    # (non-canonical, scale evidence only). Note the anomaly leg keeps
    # its masked exact distincts in BOTH arms, so this composite's
    # approx arm measures HLL cost ON TOP of a retained Expand.
    fused = fused_quality_pass(orders, _profile_constraints(),
                               slice_sql="o_orderkey % 2 = 0",
                               drift_added=("o_orderdate_d",),
                               approx_distinct=approx)
    anom = anomaly_slices_pass(
        orders, [f"o_orderkey % 4 = {j}" for j in range(3)],
        "o_orderkey % 4 = 3", columns=list(_ANOM_COLS), k=3).select(
        F.lit("anomaly").alias("arm"), "col_name", "metric", "value")
    li = read_table(spark, sf_dir, "lineitem")
    dim = orders.filter(F.col("o_orderkey") % 7 != 0)
    fk = fk_violations(li, "l_orderkey", dim, "o_orderkey").select(
        F.lit("fk").alias("arm"), "col_name", "metric", "value")
    return (fused.unionByName(anom).unionByName(fk)
            .orderBy("arm", "col_name", "metric"))


def _sql_data_profile() -> str:
    from nci_seronet_proc_data_validator_spark.operators.profiler import (
        anomaly_slices_oracle_sql, fk_oracle_sql, profile_oracle_sql,
        verify_oracle_sql)
    ordersq = ("(SELECT *, CAST(o_orderdate AS DATE) AS o_orderdate_d "
               "FROM orders)")
    prof = profile_oracle_sql(ordersq, _PROFILE_DTYPES)
    ver = verify_oracle_sql(ordersq, _profile_constraints())
    anom = anomaly_slices_oracle_sql(
        "orders", _PROFILE_DTYPES,
        [f"o_orderkey % 4 = {j}" for j in range(3)],
        "o_orderkey % 4 = 3", columns=list(_ANOM_COLS), k=3)
    fk = fk_oracle_sql("lineitem", "l_orderkey",
                       "(SELECT * FROM orders WHERE o_orderkey % 7 <> 0)",
                       "o_orderkey")
    old_p = profile_oracle_sql("orders", _PROFILE_DTYPES[:-1])
    new_p = profile_oracle_sql(
        ordersq.replace("FROM orders", "FROM orders WHERE o_orderkey % 2 = 0"),
        _PROFILE_DTYPES)
    return f"""
SELECT * FROM (
  SELECT 'profile' AS arm, col_name, metric, value FROM ({prof})
  UNION ALL
  SELECT 'verify' AS arm, col_name, metric, value FROM ({ver})
  UNION ALL
  SELECT 'anomaly' AS arm, col_name, metric, value FROM ({anom})
  UNION ALL
  SELECT 'fk' AS arm, col_name, metric, value FROM ({fk})
  UNION ALL
  SELECT 'drift' AS arm,
         COALESCE(o.col_name, n.col_name) AS col_name,
         concat(COALESCE(o.metric, n.metric), '/',
                CASE WHEN o.value IS NULL THEN 'added'
                     WHEN n.value IS NULL THEN 'removed'
                     WHEN n.value - o.value <> 0 THEN 'changed'
                     ELSE 'unchanged' END) AS metric,
         COALESCE(n.value - o.value, n.value, o.value) AS value
  FROM ({old_p}) o FULL OUTER JOIN ({new_p}) n
    ON o.col_name = n.col_name AND o.metric = n.metric
) ORDER BY arm, col_name, metric
"""


# doc_scoring's corpus with the planted NULL-text row (see q_doc_scoring)
_DOCS_PLANTED = ("(SELECT * FROM documents UNION ALL "
                 "SELECT CAST(-1 AS BIGINT), CAST(NULL AS VARCHAR), 'xx', "
                 "'planted', CAST(0 AS BIGINT))")


def _consolidate_registry() -> None:
    from nci_seronet_proc_data_validator_spark.operators.importance import (
        importance_oracle_sql)
    from nci_seronet_proc_data_validator_spark.operators.classifier import (
        classifier_oracle_sql, demo_weights)
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        ccnet_buckets_oracle_sql, quality_oracle_sql)
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        cross_corpus_oracle_sql, substr_dup_oracle_sql)
    merged = {
        "c1_c4_checks": (q_c1_c4_checks,
                         _union_all_sql(SQL_C1, SQL_C2, SQL_C3, SQL_C3_INT,
                                        SQL_C4, SQL_A6)),
        "cross_dedup": (q_cross_dedup,
                        cross_corpus_oracle_sql(_CROSS_NEW_PRED,
                                                _CROSS_CORPUS_PRED)),
        "multimodal_decode": (q_multimodal_decode, _sql_multimodal_decode()),
        # round-4: c5_c6 + c7_c8 fused (same findings shape) to free the
        # slot the PQ ANN tier takes
        "c5_c8_checks": (q_c5_c8_checks,
                         _union_all_sql(SQL_C5, SQL_C6, SQL_C7, SQL_C8)),
        "pq_ann": (q_pq_ann, _sql_pq_ann()),
        "c9_c12_checks": (q_c9_c12_checks,
                          _union_all_sql(SQL_C9, SQL_C10, SQL_C11, SQL_C12)),
        "events_windows": (q_events_windows, _sql_events_windows()),
        "skew_salted": (q_skew_salted, SQL_SKEW_SALTED),
        "chunk_and_split": (q_chunk_and_split, _sql_chunk_and_split()),
        # round-3 curation operators, slotted in by fusing the two
        # bigram-pass siblings and folding bpe_token_count into text_stats;
        # round-4: quality_score folded in too (one per-doc profile row),
        # freeing the slot substr_dup_pairs takes
        "quality_profile": (q_quality_profile, f"""
SELECT q.*, c.lang, c.n_bigrams, c.n_distinct_bigrams, c.top_count,
       c.is_repetitive, c.top_bigram, c.bigram_chars, c.dup_bigram_chars,
       c.top_char_frac, c.dup_char_frac, c.is_top_heavy, c.is_dup_heavy,
       c.sum_corpus_freq, c.familiarity, c.ppl_bucket
FROM ({quality_oracle_sql().strip()}) q
JOIN ({ccnet_buckets_oracle_sql().strip()}) c ON q.doc_id = c.doc_id
ORDER BY q.doc_id
"""),
        "substr_dup_pairs": (q_substr_dup_pairs,
                             substr_dup_oracle_sql(k=20, w=8, min_shared=4,
                                                   max_df=64)),
        # round-4: classifier inference joins the DSIR scoring pass;
        # round-6: LEFT join from the classifier side over the corpus
        # with a planted NULL-text row (doc_id -1, scores exactly bias)
        "doc_scoring": (q_doc_scoring, f"""
SELECT c.doc_id, i.n_ngrams, i.sum_target_freq, i.sum_corpus_freq,
       i.importance, c.clf_score, c.clf_pred
FROM ({classifier_oracle_sql(demo_weights(4096), bias=0,
                             table=_DOCS_PLANTED).strip()}) c
LEFT JOIN ({importance_oracle_sql("lang = 'en'", n=2, buckets=4096,
                                  table=_DOCS_PLANTED).strip()}) i
  ON c.doc_id = i.doc_id
ORDER BY c.doc_id
"""),
        "boilerplate_removal": (q_boilerplate_removal,
                                _sql_boilerplate_removal()),
        "vocab_pipeline": (q_vocab_pipeline, _sql_vocab_pipeline()),
        # both ANN paths (brute baseline + trained IVF) as one tagged
        # union, freeing the slot SemDeDup takes
        "embedding_ann": (q_embedding_ann, _sql_embedding_ann()),
        # both parameterizations (pinned k=8 + production auto k≈√N) as
        # one tagged union; the auto arm's dynamic-k oracle computes the
        # same k via a scalar-subquery LIMIT
        "semdedup": (q_semdedup, _sql_semdedup()),
        # learned tokenizer; slot freed by folding the per-doc lang-id
        # prediction into the text_stats profile scan
        "bpe_train": (q_bpe_train, _sql_bpe_train()),
        # round-4: mergeable sketches (HLL + Count-Min + exact twins);
        # absorbs length_percentiles as its exact-percentile arm
        "sketch_profile": (q_sketch_profile, _sql_sketch_profile()),
    }
    absorbed = [
        # merged into the tagged unions above (c1_c2/c3_c4/a6 merged into
        # c1_c4_checks in-session to slot in cross_dedup and
        # multimodal_decode)
        "c1_c2_checks", "c3_c4_checks", "a6_dedup_findings",
        "c1_in_list", "c2_date_range", "c3_number_range", "c3_int_check",
        "c4_string_check", "c5_id_format", "c6_dup_ids", "c7_substr",
        "c8_dict_lookup", "c9_assay_resolution", "c10_live_le_total",
        "c11_viability", "c12_missing_sars",
        "events_hourly", "events_sliding",
        "skew_salted_agg", "skew_salted_join",
        "chunk_documents", "train_val_split",
        # already exercised inside a composed registered query
        "minhash_signatures", "simhash_signatures", "dedup_exact",
        "doc_fingerprint", "ivf_topk", "kmeans_centroids", "dedup_clusters",
        # fused: one bigram pass serves both signal families; round-4
        # fused again with the Gopher gates into quality_profile
        "repetition_bigrams", "familiarity",
        "quality_score", "repetition_familiarity",
        # round-4: fused with classifier inference into doc_scoring
        "dsir_importance",
        # folded into the text_stats map-only profile scan
        "bpe_token_count",
        # embedded in vocab_pipeline (same top-N ranking feeds the ids)
        "vocab_topn",
        # merged into the embedding_ann tagged union
        "embedding_topk", "ivf_topk_trained",
        # per-doc prediction now a text_stats column (confusion-matrix
        # form remains available as q_lang_id)
        "lang_id",
        # round-4: fused into c5_c8_checks (slot freed for pq_ann)
        "c5_c6_checks", "c7_c8_checks",
        # round-4: the sketch_profile pct arm (slot freed for the sketches)
        "length_percentiles",
        # round-4 continuations: the two temporal joins fuse into
        # temporal_joins; pagerank grows into the graph_metrics union;
        # user_retention rides events_windows as its 'retention' arm —
        # the three freed slots take fuzzy_join, merge_upsert and the
        # graph_metrics rename
        "asof_join", "interval_join", "pagerank", "user_retention",
        # round-6: the two candidate-pair siblings fuse into
        # neardup_pairs — the freed slot takes data_profile (the
        # schema-driven profiler tier, round-4/5 backlog #1)
        "simhash_pairs", "ngram_jaccard_pairs",
        # round-7: the three small validation queries fuse into
        # submission_misc (which adds the S9 sink write→readback arm) —
        # the two freed slots take streaming_parity and jdbc_roundtrip,
        # promoting the §2.8 streaming and S5/S6/S11 JDBC surfaces from
        # test-verified to oracle-checked (r5 verdict: correct_pct 72)
        "j6_anti_join", "a4_count_reconcile", "o3_union_slices",
    ]
    from nci_seronet_proc_data_validator_spark.parity import (
        SQL_JDBC_ROUNDTRIP,
        SQL_STREAMING_PARITY,
        q_jdbc_roundtrip,
        q_streaming_parity,
        q_submission_misc,
        sql_submission_misc,
    )
    merged.update({
        "temporal_joins": (q_temporal_joins, SQL_TEMPORAL_JOINS),
        "fuzzy_join": (q_fuzzy_join, _sql_fuzzy_join()),
        "merge_upsert": (q_merge_upsert, _sql_merge_upsert()),
        "graph_metrics": (q_graph_metrics, _sql_graph_metrics()),
        "neardup_pairs": (q_neardup_pairs, _sql_neardup_pairs()),
        "data_profile": (q_data_profile, _sql_data_profile()),
        "submission_misc": (q_submission_misc, sql_submission_misc()),
        "streaming_parity": (q_streaming_parity, SQL_STREAMING_PARITY),
        "jdbc_roundtrip": (q_jdbc_roundtrip, SQL_JDBC_ROUNDTRIP),
    })
    for name in absorbed:
        QUERIES.pop(name, None)
    QUERIES.update(merged)


_consolidate_registry()


# --------------------------------------------------------------- §2.7 rulebook
def q_rulebook_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's actual product: ALL rulebook rules
    (``plans/rulebook.py``, semantic port of ``Validation_Rules.py``) bound
    and compiled over a 10-sheet synthetic SeroNet submission derived from
    the testdata tables (``plans/fixture.py``).

    Per sheet: one map-only findings scan (``compile_sheet_findings``) plus
    one keyed shuffle per duplicate-ID column — the same plan shape the
    production pipeline uses, so at 100 TB this is N parallel scans and a
    handful of low-cardinality aggregations. The DuckDB oracle is assembled
    from the SAME binding (``plans/sql_oracle.py``)."""
    from nci_seronet_proc_data_validator_spark.errors import (
        dedup_findings,
        union_findings,
    )
    from nci_seronet_proc_data_validator_spark.operators.joins import (
        icd10_flag_join,
    )
    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        fixture_sheet_df,
        icd10_dict_df,
    )
    from nci_seronet_proc_data_validator_spark.plans.rules import (
        dup_id_findings_sql as _dups_sql,
        sheet_findings_sql as _findings_sql,
    )
    from nci_seronet_proc_data_validator_spark.plans.sql_oracle import (
        rulebook_bound_sheets,
    )
    spread = spark.sparkContext.defaultParallelism
    from nci_seronet_proc_data_validator_spark.operators.joins import (
        biospecimen_cross_findings,
        participant_cross_findings,
        presence_spine,
    )
    icd = icd10_dict_df(spark, sf_dir)
    # The per-sheet findings/dup legs are assembled as SQL TEXT over temp
    # views and submitted as ONE spark.sql per dedup group: the DataFrame
    # path costs one JVM analysis per selectExpr/unionByName leg
    # (measured ~3.5 s of driver build at 30 legs, cProfile r8); one
    # statement parses and analyzes once. Same plan, same findings.
    row_legs = []     # per-row findings (Row_Index ≥ 0): map-only legs
    aux_legs = []     # SQL legs needing dedup (aliquot rows, dup-ID −3)
    aux_parts = []    # DataFrame legs needing dedup (cross-sheet −10)
    sheet_dfs = {}
    # unique view names per invocation: concurrent builds in one session
    # (e.g. a thread pool constructing QUERIES) must not replace each
    # other's views between registration and spark.sql analysis
    import uuid as _uuid
    run_id = _uuid.uuid4().hex[:8]
    view_names: list[str] = []
    for i, (spec, bound) in enumerate(rulebook_bound_sheets()):
        # persist=True: each sheet feeds the findings pass, a pass per
        # dup-ID column, and the cross-sheet spines — the cached cast
        # base is scanned k× instead of re-shuffled k×. (Sharing one
        # persisted base per distinct base table was measured SLOWER at
        # sf0.1 — the deduped shuffles are tiny while the typed shadows
        # recompute per consumer; see fixture_sheet_df's base_df hook.)
        df = fixture_sheet_df(spark, sf_dir, spec, spread_partitions=spread,
                              persist=True)
        sheet_dfs[spec.sheet] = df
        for col in bound.icd10_columns:
            df = icd10_flag_join(df, col, icd, col + "__icd10_valid")
        view = f"__rulebook_sheet_{run_id}_{i}"
        df.createOrReplaceTempView(view)
        view_names.append(view)
        # codegen_chunk=9: the persisted base makes repeated (pruned)
        # cache scans cheap, and 9-rule-group projections (3 chunks on
        # the widest sheet) stay under the JIT size ceiling — ~2x on
        # the widest sheets; fewer jobs than chunk=3 also wins under
        # CPU contention (see rules.py docstring for the sweep)
        legs = _findings_sql(view, spec.sheet, bound.column_rules,
                             codegen_chunk=9)
        # Sheets whose row_index is a base-table PK cannot produce two
        # findings with one (sheet, row, column) — keep-first coalesce —
        # so the global dedup is an identity on them; sheets with
        # colliding keys (aliquot) keep the keyed dedup.
        (row_legs if spec.key_unique else aux_legs).extend(legs)
        for c in bound.dup_id_columns:
            aux_legs.append(_dups_sql(view, spec.sheet, c))
    parts = ([spark.sql(" UNION ALL ".join(row_legs))]
             if row_legs else [])
    if aux_legs:
        aux_parts.append(spark.sql(" UNION ALL ".join(aux_legs)))
    # spark.sql resolves views eagerly at the call above; drop exactly
    # the views created (sheet_dfs is keyed by sheet name, which could
    # in principle collide — len(sheet_dfs) would then undercount)
    for view in view_names:
        spark.catalog.dropTempView(view)

    # Cross-sheet presence families (J3-J5, sentinel -10). Sources are
    # distinct-ID projections (the Merged_Table shape); biospecimen
    # contributes a deterministic per-ID type (min) so multi-typed
    # duplicate IDs decode identically on both engines. All sheets are
    # "submitted" here, so the submitted-id restriction is a no-op.
    # presence_spine: UNION ALL of raw cached-sheet projections → ONE
    # groupBy per spine (no per-source distinct, no full-outer chain) —
    # the join chain otherwise gates the sibling findings mega-stage
    # behind k−1 serialized exchanges (measured: stage timeline r8).
    rpid = "Research_Participant_ID"
    part_spine = presence_spine(
        {s: sheet_dfs[s].select(rpid)
         for s in ("prior_clinical_test.csv", "demographic.csv",
                   "biospecimen.csv", "confirmatory_clinical_test.csv")},
        rpid)
    aux_parts.append(participant_cross_findings(part_spine, "14"))
    bid = "Biospecimen_ID"
    bio_sources = {"biospecimen.csv":
                   sheet_dfs["biospecimen.csv"].select(bid,
                                                       "Biospecimen_Type")}
    for s in ("aliquot.csv", "equipment.csv", "reagent.csv",
              "consumable.csv"):
        bio_sources[s] = sheet_dfs[s].select(bid)
    bio_spine = presence_spine(bio_sources, bid,
                               carry={"biospecimen.csv":
                                      ["Biospecimen_Type"]})
    aux_parts.append(biospecimen_cross_findings(bio_spine, "14"))
    # Split dedup by disjoint dedup-key spaces: per-row findings
    # (Row_Index ≥ 0) of a key_unique sheet carry at most ONE finding per
    # (sheet, row, column) — keep-first coalesce + PK row_index — so the
    # global dropDuplicates is an identity on them and their legs (the
    # widest stage of the whole plan) stay shuffle-free. Everything else
    # (aliquot's colliding row_index, −3 dup-ID, −10 cross-sheet) keeps
    # the keyed dedup; the groups cannot collide with each other
    # (different sheet names / sentinel Row_Index). Equality with the
    # single global dedup is pinned by tests/test_rulebook_split.py and
    # the driver oracle.
    return union_findings(
        [union_findings(parts),
         dedup_findings(union_findings(aux_parts))])


def _rulebook_oracle() -> str:
    """Assembled at import time — binding builds only SQL templates (no
    Column objects), so no SparkContext is needed (dual-backend checks,
    ``functions/checks.py``)."""
    from nci_seronet_proc_data_validator_spark.plans.sql_oracle import (
        rulebook_oracle_sql,
    )
    return rulebook_oracle_sql()


QUERIES["rulebook_full"] = (q_rulebook_full, _rulebook_oracle())

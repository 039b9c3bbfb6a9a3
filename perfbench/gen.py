"""Seeded input generator for the validator benchmark.

Every input a workload reads is written here, from ``--seed`` alone, before
the program under test sees it:

- ``tables(out_dir, sf, seed)``: the five TPC-H-shaped base tables the
  ``plans/fixture.py`` sheets derive from (customer, orders, lineitem, part,
  supplier), one parquet file each, at scale factor ``sf``. Keys are dense
  where TPC-H's are (customers, parts, suppliers) and seeded where they are
  not (order keys, foreign keys, line numbers), so each seed plants a
  different set of violations through the fixture's key-modulo rules.
- ``burst_submissions(out_dir, n, seed)``: ``n`` tiny same-schema
  submissions in the shape of ``tools/bench_watch_burst.py``: one valid
  and one invalid participant, one biospecimen, and a ``submission.csv``
  whose declared counts never reconcile.

Everything is deterministic in the seed: DuckDB's ``hash`` drives the
tables and ``random.Random(seed)`` the burst IDs and values.
"""

from __future__ import annotations

import csv
import os
import random

CBC_NAME = "LabX"
CBC_ID = "14"

# Rows per unit scale factor, as in TPC-H.
_SCALE = {"customer": 150_000, "orders": 1_500_000, "part": 200_000,
          "supplier": 10_000}


def _h(seed: int, salt: int, *cols: str) -> str:
    """A seeded 64-bit hash of ``cols`` (DuckDB ``hash`` is stable for a
    given DuckDB version, so one seed gives the same bytes every run)."""
    return f"hash({', '.join(cols)}, {int(seed)}, {salt})"


def tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the fixture's base tables at ``sf``; returns rows per table."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(1, int(r * sf)) for t, r in _SCALE.items()}
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        sql = {
            "customer": f"""
                SELECT i AS c_custkey,
                       'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0')
                           AS c_name,
                       CAST({_h(seed, 1, 'i')} % 25 AS INTEGER)
                           AS c_nationkey,
                       CAST({_h(seed, 2, 'i')} % 1099999 AS DOUBLE) / 100
                           - 999.99 AS c_acctbal
                FROM range(1, {n['customer']} + 1) t(i)""",
            # TPC-H order keys are sparse; here each order i owns the
            # key block [4i, 4i+4) and the seed picks the key inside it.
            "orders": f"""
                SELECT 4 * i + CAST({_h(seed, 3, 'i')} % 4 AS BIGINT)
                           AS o_orderkey,
                       1 + CAST({_h(seed, 4, 'i')} % {n['customer']}
                                AS BIGINT) AS o_custkey,
                       CAST({_h(seed, 5, 'i')} % 50000000 AS DOUBLE) / 100
                           AS o_totalprice
                FROM range(1, {n['orders']} + 1) t(i)""",
            "part": f"""
                SELECT i AS p_partkey,
                       'part ' || CAST({_h(seed, 6, 'i')} % 100000
                                       AS VARCHAR) AS p_name,
                       CAST({_h(seed, 7, 'i')} % 50 + 1 AS INTEGER) AS p_size
                FROM range(1, {n['part']} + 1) t(i)""",
            "supplier": f"""
                SELECT i AS s_suppkey,
                       'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0')
                           AS s_name,
                       CAST({_h(seed, 8, 'i')} % 25 AS INTEGER)
                           AS s_nationkey
                FROM range(1, {n['supplier']} + 1) t(i)""",
        }
        for name, body in sql.items():
            con.execute(f"COPY ({body}) TO '{out_dir}/{name}.parquet' "
                        "(FORMAT PARQUET)")
        # 1-7 lines per order; line numbers are drawn, not counted, so
        # (l_orderkey, l_linenumber) repeats now and then, as in the
        # driver's testdata (the aliquot sheet's key is not unique).
        con.execute(f"""
            COPY (
              SELECT o.o_orderkey AS l_orderkey,
                     1 + CAST({_h(seed, 9, 'o.o_orderkey', 'j')}
                              % {n['part']} AS BIGINT) AS l_partkey,
                     1 + CAST({_h(seed, 10, 'o.o_orderkey', 'j')}
                              % {n['supplier']} AS BIGINT) AS l_suppkey,
                     CAST(1 + {_h(seed, 11, 'o.o_orderkey', 'j')} % 7
                          AS INTEGER) AS l_linenumber,
                     CAST({_h(seed, 12, 'o.o_orderkey', 'j')} % 50 + 1
                          AS DOUBLE) AS l_quantity
              FROM read_parquet('{out_dir}/orders.parquet') o,
                   range(0, 7) r(j)
              WHERE j <= {_h(seed, 13, 'o.o_orderkey')} % 7
            ) TO '{out_dir}/lineitem.parquet' (FORMAT PARQUET)""")
        return {t: con.execute(f"SELECT count(*) FROM read_parquet("
                               f"'{out_dir}/{t}.parquet')").fetchone()[0]
                for t in ("customer", "orders", "lineitem", "part",
                          "supplier")}
    finally:
        con.close()


def _write_csv(path: str, header: list[str], rows) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


BURST_SHEETS = ("submission.csv", "demographic.csv", "biospecimen.csv")
_RACES = ("White", "Black or African American", "Asian", "Other")


def burst_submissions(out_dir: str, n: int, seed: int) -> list[dict]:
    """Write ``n`` tiny same-schema submissions (the burst shape) and
    return, per submission, its id and the planted values its expected
    findings are stated in terms of (``workloads.burst_expected``)."""
    rng = random.Random(seed)
    ids = rng.sample(range(10_000, 90_000), 2 * n)
    subs = []
    for i in range(n):
        good, bad = f"14_{ids[2 * i]:06d}", f"14_9{ids[2 * i + 1]:05d}"
        sub = f"sub{i:03d}"
        d = os.path.join(out_dir, sub)
        os.makedirs(d, exist_ok=True)
        bad_age = str(rng.choice((999, 250, 201)))
        _write_csv(os.path.join(d, "demographic.csv"),
                   ["Research_Participant_ID", "Age", "Race"],
                   [(good, rng.randrange(18, 90), rng.choice(_RACES)),
                    (bad, bad_age, "Race_X")])
        _write_csv(os.path.join(d, "biospecimen.csv"),
                   ["Research_Participant_ID", "Biospecimen_ID",
                    "Biospecimen_Type"],
                   [(good, f"{good}_001", "PBMC")])
        _write_csv(os.path.join(d, "submission.csv"), ["key", CBC_NAME],
                   [("p", 9), ("b", 9)])
        subs.append({"id": sub, "good": good, "bad": bad,
                     "bad_age": bad_age})
    return subs

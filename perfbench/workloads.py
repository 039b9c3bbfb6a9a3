"""The benchmark's workloads. Each one generates its inputs from the seed
(``prepare``), runs one operation per ``op`` call, and checks outputs.

- ``rulebook_sf0.01``: ``QUERIES["rulebook_full"]`` over seeded
  TPC-H-shaped tables at sf0.01 (10 fixture sheets, ~100k sheet rows,
  ~180 rules, dup-ID shuffles, presence spines) into the noop sink. The
  execution-bound compiler: most of its time is Spark tasks. Checked
  against its DuckDB oracle (``QUERIES["rulebook_full"][1]``) with an
  order-insensitive comparison.
- ``burst_96``: 96 tiny same-schema submissions landed before one
  ``validate_stream_submissions`` availableNow drain, with a fresh
  checkpoint and output directory per drain. The batched compiler
  (``orchestrate.validate_batched_results``) plus the watcher's ledger and
  epoch sink: plan construction and many small jobs, almost no row work.
  Checked against the generator's planted findings (6 per submission) and
  exactly-once completion.
"""

from __future__ import annotations

import datetime
import gc
import math
import os
import shutil
import time

import gen

# Findings must not move at midnight: every path binds rules as of this day.
TODAY = datetime.date(2026, 1, 1)

RULEBOOK_SF = 0.01
BURST_N = 96


def release_memory(spark) -> None:
    """Drop caches and collect garbage on both heaps between operations."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


class Rulebook:
    name = "rulebook_sf0.01"
    warmups = 1

    def __init__(self, ctx):
        self.spark, self.tracer, self.cpus = ctx.spark, ctx.tracer, ctx.cpus
        self.seed = ctx.seed
        self.data = os.path.join(ctx.work, "tables")

    def prepare(self) -> dict:
        from nci_seronet_proc_data_validator_spark.driver_queries import (
            QUERIES,
        )
        from nci_seronet_proc_data_validator_spark.plans.fixture import (
            FIXTURE_SHEETS,
        )

        # QUERIES["rulebook_full"][0] is q_rulebook_full; it is called
        # through its module so that a traced run sees the wrapped name
        from nci_seronet_proc_data_validator_spark import driver_queries
        self.queries = driver_queries
        self.oracle_sql = QUERIES["rulebook_full"][1]
        counts = gen.tables(self.data, RULEBOOK_SF, self.seed)
        self.rows = sum(counts[s.base] for s in FIXTURE_SHEETS)
        files = [os.path.join(self.data, f) for f in os.listdir(self.data)]
        return {"rows": self.rows, "files": len(files),
                "bytes": sum(os.path.getsize(f) for f in files),
                "table_rows": counts}

    def warmup(self, i: int) -> None:
        # The warm-up sample is also the correctness sample: the same
        # query, collected instead of sunk, compared after the timed
        # window against DuckDB.
        self.actual = self.queries.q_rulebook_full(
            self.spark, self.data).toPandas()
        release_memory(self.spark)

    def op(self, k: int) -> dict:
        df = self.queries.q_rulebook_full(self.spark, self.data)
        with self.tracer.span("noop_sink", "sinks"):
            df.write.format("noop").mode("overwrite").save()
        return {"subs": 1, "rows": self.rows}

    def after(self, k: int) -> tuple[int, int]:
        release_memory(self.spark)
        return 0, 0     # the noop sink writes nothing

    def check(self) -> tuple[bool, str]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in ("customer", "orders", "lineitem", "part", "supplier"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{self.data}/{t}.parquet')")
            expected = con.execute(self.oracle_sql).fetchdf()
        finally:
            con.close()
        a, b = canonical_rows(self.actual), canonical_rows(expected)
        if list(self.actual.columns) != list(expected.columns):
            return False, (f"columns {list(self.actual.columns)} vs "
                           f"{list(expected.columns)}")
        if a != b:
            return False, (f"{len(a)} findings vs {len(b)} from the oracle; "
                           f"first difference "
                           f"{next((x, y) for x, y in zip(a, b) if x != y) if len(a) == len(b) else '-'}")
        return True, f"{len(a)} findings match the DuckDB oracle"

    def fixture_sample(self) -> float:
        """Untimed extra sample: materialize the 10 fixture sheets alone."""
        from nci_seronet_proc_data_validator_spark.plans.fixture import (
            FIXTURE_SHEETS,
            fixture_sheet_df,
        )

        t0 = time.time()
        for spec in FIXTURE_SHEETS:
            (fixture_sheet_df(self.spark, self.data, spec,
                              spread_partitions=self.cpus)
             .write.format("noop").mode("overwrite").save())
        return time.time() - t0


def canonical_rows(df) -> list[tuple]:
    """Order-insensitive form of a findings frame: every value rendered as
    text (ints without a decimal point, nulls as a marker), rows sorted."""
    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<NULL>"
        if isinstance(v, float) and v.is_integer():
            return str(int(v))
        return str(v)

    cols = sorted(df.columns)
    return sorted(tuple(cell(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))


class Burst:
    name = "burst_96"
    warmups = 1

    def __init__(self, ctx):
        self.spark, self.tracer, self.seed = ctx.spark, ctx.tracer, ctx.seed
        self.icd10, self.expected_columns = ctx.icd10, ctx.expected_columns
        self.work = ctx.work
        self.landing = os.path.join(ctx.work, "landing")
        self.errors: list[str] = []

    def prepare(self) -> dict:
        self.subs = gen.burst_submissions(self.landing, BURST_N, self.seed)
        self.rows = 3 * BURST_N     # demographic (2) + biospecimen (1)
        nbytes = sum(e.stat().st_size
                     for d in os.scandir(self.landing)
                     for e in os.scandir(d.path))
        return {"rows": self.rows, "files": 3 * BURST_N, "bytes": nbytes}

    def _drain(self, tag: str) -> tuple[str, dict, dict]:
        from nci_seronet_proc_data_validator_spark.streaming.watcher import (
            validate_stream_submissions,
        )

        cp = os.path.join(self.work, f"cp-{tag}")
        out = os.path.join(self.work, f"out-{tag}")
        completed: dict[str, int] = {}
        failed: dict[str, str] = {}

        def on_complete(results, epoch_id):
            for sid in results:
                completed[sid] = completed.get(sid, 0) + 1

        def on_failed(msgs, epoch_id):
            failed.update(msgs)

        q = validate_stream_submissions(
            self.spark, self.landing, cp, gen.BURST_SHEETS, out,
            cbc_map={gen.CBC_NAME: gen.CBC_ID}, icd10_codes=self.icd10,
            expected_columns=self.expected_columns,
            bind_kwargs={"today": TODAY},
            complete_cb=on_complete, failed_cb=on_failed)
        with self.tracer.span("awaitTermination", "streaming"):
            q.awaitTermination()
        self.progress = q.recentProgress
        return out, completed, failed

    def warmup(self, i: int) -> None:
        out, completed, failed = self._drain(f"w{i}")
        self._verify(out, completed, failed)
        self._cleanup(f"w{i}")

    def op(self, k: int) -> dict:
        out, self.completed, self.failed = self._drain(str(k))
        self.out = out
        return {"subs": BURST_N, "rows": self.rows}

    def after(self, k: int) -> tuple[int, int]:
        written = _tree_size(self.out)
        self._verify(self.out, self.completed, self.failed)
        self._cleanup(str(k))
        release_memory(self.spark)
        return written

    def _cleanup(self, tag: str) -> None:
        for d in (f"cp-{tag}", f"out-{tag}"):
            shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)

    def _verify(self, out, completed, failed) -> None:
        """Record every way the drain's output departs from the plant."""
        if failed:
            self.errors.append(f"failed submissions: {sorted(failed)[:5]}")
        once = {s["id"] for s in self.subs}
        if completed != {sid: 1 for sid in once}:
            self.errors.append(
                f"completions {len(completed)} of {len(once)}, "
                f"not exactly once: "
                f"{sorted(s for s, n in completed.items() if n != 1)[:5]}")
        rows = (self.spark.read.parquet(os.path.join(out, "findings"))
                .select("__submission_id", "Message_Type", "CSV_Sheet_Name",
                        "Row_Index", "Column_Name", "Column_Value")
                .collect())
        got: dict[str, set] = {}
        for r in rows:
            got.setdefault(r[0], set()).add(tuple(r[1:]))
        expected = burst_expected(self.subs)
        for sid, want in expected.items():
            have = got.get(sid, set())
            # A4 reconciliation rows are pinned by (sheet, column) only
            have = {t if t[1] != "submission.csv" else t[:4] for t in have}
            if have != want:
                self.errors.append(f"{sid}: findings {sorted(have)} "
                                   f"expected {sorted(want)}")
                break
        if len(rows) != 6 * len(expected):
            self.errors.append(f"{len(rows)} findings, expected "
                               f"{6 * len(expected)}")

    def check(self) -> tuple[bool, str]:
        if self.errors:
            return False, "; ".join(self.errors[:3])
        return True, (f"every drain: {BURST_N} submissions completed once, "
                      f"6 planted findings each")


def burst_expected(subs: list[dict]) -> dict[str, set]:
    """The findings each burst submission must produce: the bad
    participant's Age and Race, both participants in the cross-sheet ID
    check (neither is in a prior clinical test sheet; the bad one is not
    in biospecimen either), and both A4 count reconciliations (the
    declared 9 never matches)."""
    out = {}
    for s in subs:
        out[s["id"]] = {
            ("Error", "demographic.csv", 3, "Age", s["bad_age"]),
            ("Error", "demographic.csv", 3, "Race", "Race_X"),
            ("Error", "Cross_Participant_ID.csv", -10,
             "Research_Participant_ID", s["good"]),
            ("Error", "Cross_Participant_ID.csv", -10,
             "Research_Participant_ID", s["bad"]),
            ("Error", "submission.csv", -5, "submit_Participant_IDs"),
            ("Error", "submission.csv", -5, "submit_Biospecimen_IDs"),
        }
    return out


def _tree_size(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, n))
    return files, nbytes


WORKLOADS = {w.name: w for w in (Rulebook, Burst)}

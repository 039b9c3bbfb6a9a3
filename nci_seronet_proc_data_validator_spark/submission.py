"""Submission orchestrator — Entry point 1 of the reference re-expressed.

Mirrors ``lambda_handler``'s per-submission flow
(nci-seronet-data-validator.py:69-108): load sheets → cleanup → header
check → Merged_Tables → per-sheet enrichment + rules → cross-sheet
integrity → count reconciliation → summary. The reference mutates a
``Submission_Object`` sheet-by-sheet, cell-by-cell; here every step is a
DataFrame transformation and the result is ONE findings DataFrame built
lazily — nothing executes until a sink action runs, so Catalyst sees the
whole plan.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.errors import (
    COLUMN_FINDING_SCHEMA,
    ROW_COUNT_MISMATCH,
    dedup_findings,
    empty_findings,
    findings_summary,
    local_rows_df,
    union_findings,
)
from nci_seronet_proc_data_validator_spark.operators.joins import (
    icd10_flag_join,
    merge_tables,
    merged_table,
)
from nci_seronet_proc_data_validator_spark.operators.typing import with_typed_shadows
from nci_seronet_proc_data_validator_spark.plans.rulebook import (
    BoundSheet,
    bind_sheet_rules_cached,
    _icd10_flag,
)
from nci_seronet_proc_data_validator_spark.plans.rules import (
    compile_sheet_findings,
    dup_id_findings,
    dup_id_findings_sql,
    sheet_findings_sql_cached,
)
from nci_seronet_proc_data_validator_spark.sources.readers import cleanup_sheet

SKIP_VALIDATION = ("submission.csv", "shipping_manifest.csv")


def parse_submission_metadata(submission_df: DataFrame,
                              cbc_name_to_id: dict[str, str] | None = None
                              ) -> dict:
    """O4 ``get_submission_metadata`` (File_Submission_Object.py:80-89):
    submission.csv is a 2-column key/value sheet — the CBC (lab) name is
    the HEADER of column 2, participant count at data row 2, biospecimen
    count at row 3. The CBC name resolves to a 2-digit id via the CBC
    table (MySQL in the reference; a dict here). Unknown name → cbc_id
    '0', which makes every ID check report "submission file is missing".

    The sheet is tiny by construction — the two ``first()``-style lookups
    collect ≤3 rows, never data-scale.
    """
    cols = [c for c in submission_df.columns if c != "row_index"]
    cbc_name = cols[1] if len(cols) > 1 else ""
    rows = (submission_df.orderBy("row_index").limit(3).collect()
            if "row_index" in submission_df.columns
            else submission_df.limit(3).collect())

    def _cell(r, default="0"):
        v = r[cbc_name] if cbc_name in r.__fields__ else default
        return v if v not in (None, "") else default

    participants = _cell(rows[1]) if len(rows) > 1 else "0"
    biospecimens = _cell(rows[2]) if len(rows) > 2 else "0"
    cbc_id = (cbc_name_to_id or {}).get(cbc_name, "0")
    return {"cbc_name": cbc_name, "cbc_id": str(cbc_id),
            "declared_participants": participants,
            "declared_biospecimens": biospecimens}


def parse_submission_metadata_local(path: str,
                                    cbc_name_to_id: dict | None = None
                                    ) -> dict | None:
    """Driver-side twin of :func:`parse_submission_metadata` reading the
    tiny O4 key/value sheet with Python's csv module — ZERO Spark jobs.

    A completion burst pays one metadata parse per submission; through
    the DataFrame path that is one small Spark job each (the
    ``limit(3).collect``), which at 96 tiny submissions was a
    measurable slice of the drain (the watcher already opens the same
    file driver-side for the header probe). Same fallback discipline as
    ``csv_header``: returns ``None`` whenever the cheap parse cannot
    reproduce the Spark read bit-for-bit — probe-refused header
    (quotes/duplicates/gzip), a quote or backslash in the first two
    data rows (RFC-4180 doubled-quote vs Spark ``escape='\\'``
    divergence, both ways) — and the caller falls back to the DataFrame
    parse.
    """
    import csv as _csv

    from nci_seronet_proc_data_validator_spark.sources.readers import (
        csv_header,
    )

    import io

    cols = csv_header(path)
    if cols is None:
        return None
    try:
        with open(path, newline="", encoding="utf-8-sig") as f:
            raw = f.read(1 << 20)
    except (OSError, UnicodeDecodeError):
        return None
    # dialect guard on the RAW text (a parsed cell has its quotes
    # consumed already): any quote/backslash in the sheet may parse
    # differently under Spark's escape='\\' than Python's RFC-4180
    # doubled-quote dialect — refuse and let the caller use the
    # DataFrame parse. Oversized means it isn't the tiny O4 sheet.
    if '"' in raw or "\\" in raw or len(raw) == (1 << 20):
        return None
    reader = _csv.reader(io.StringIO(raw, newline=""))
    next(reader)                               # header
    rows = []
    for row in reader:
        if not row:                            # Spark CSV skips blank lines
            continue
        rows.append(row)
        if len(rows) == 3:                     # limit(3) twin
            break
    cbc_name = cols[1] if len(cols) > 1 else ""

    def _cell(i: int) -> str:
        # the DataFrame twin reads rows[1]/rows[2] of limit(3) —
        # the reference's iloc[1][1] / iloc[2][1]
        if cbc_name == "" or len(rows) <= i:
            return "0"
        row = rows[i]
        v = row[1] if len(row) > 1 else ""     # short row -> null -> '0'
        return v if v != "" else "0"

    cbc_id = (cbc_name_to_id or {}).get(cbc_name, "0")
    return {"cbc_name": cbc_name, "cbc_id": str(cbc_id),
            "declared_participants": _cell(1),
            "declared_biospecimens": _cell(2)}


def check_submission_quality(sheets: dict[str, DataFrame],
                             column_findings_count: int,
                             cbc_id: str) -> tuple[bool, str]:
    """Quality gate (nci-seronet-data-validator.py:179-194): a submission
    is processable iff submission.csv exists, the CBC resolved, and no
    header errors were found. Failure short-circuits all per-sheet work
    (control flow stays in the driver, like the reference)."""
    if "submission.csv" not in sheets:
        return False, "submission.csv is missing from the submission"
    if str(cbc_id) in ("0", "00", ""):
        return False, "CBC name does not exist in the database"
    if column_findings_count > 0:
        return False, ("column errors were found, files do not match "
                       "database tables")
    return True, "passed"


def column_compare_rows(name: str, have: list[str],
                        expected: list[str]) -> list[tuple]:
    """P10 ``check_col_names`` set algebra (File_Submission_Object.py:
    55-72): actual header vs expected catalog, both directions. Shared by
    ``_column_findings`` and the parity arm so one code path is tested."""
    rows = []
    for c in [c for c in have if c not in expected]:
        rows.append(("Error", name, c,
                     "Column Found in CSV is not Expected"))
    for c in [c for c in expected if c not in have]:
        rows.append(("Error", name, c,
                     "This Column is Expected and is missing "
                     "from CSV File"))
    return rows


# A4 ID families: (id column, reference's label typo included, the
# Column_Name the mismatch finding carries) — File_Submission_Object.py:
# 397-415.
A4_FAMILIES = (
    ("Research_Participant_ID", "Participat", "submit_Participant_IDs"),
    ("Biospecimen_ID", "Biospecimen", "submit_Biospecimen_IDs"),
)


A4_ROW_SCHEMA = ("Message_Type string, CSV_Sheet_Name string, "
                 "Row_Index long, Column_Name string, "
                 "Column_Value string, Error_Message string")


def a4_mismatch_tuple(declared, n: int, label: str,
                      fname: str) -> tuple | None:
    """The A4 count-mismatch finding as a driver tuple in
    ``A4_ROW_SCHEMA`` order (None when counts agree) — shared by the
    serial reconciliation and the batched tail so the message/schema
    can never drift between paths."""
    if int(declared) == n:
        return None
    msg = f"After validation only {n} {label} IDS are valid"
    return ("Error", "submission.csv", ROW_COUNT_MISMATCH,
            fname, str(declared), msg)


def a4_mismatch_row(spark: SparkSession, declared, n: int, label: str,
                    fname: str) -> DataFrame | None:
    tup = a4_mismatch_tuple(declared, n, label, fname)
    if tup is None:
        return None
    return local_rows_df(spark, [tup], A4_ROW_SCHEMA)


class ValidationResult:
    """One submission's validation outputs.

    - ``findings``: canonical 6-column findings table
    - ``column_findings``: header/schema findings (4 columns)
    - ``summary``: sheet × {Errors, Warnings} crosstab
    - ``column_finding_rows``: the header/column findings as plain driver
      tuples (they are pure driver-side set algebra — P10 never touches
      data), populated wherever the rows are known at build time.
      Consumers that only need the VALUES (the watcher's completion
      printout) read these and skip the DataFrame round trip: at a
      96-submission burst the union-of-96-local-frames collect was a
      96-task Python-worker wave plus a 96-leg analysis for rows the
      driver already held (r14).
    - ``cached``: the cache() node inside ``findings`` (the deduped row
      findings) — long-lived consumers (a resident watcher validating
      thousands of submissions) must ``release()`` after their final
      action on ``findings``, or pinned storage blocks accumulate for
      the session's lifetime. Batch CLIs may ignore it (the process
      exits).

    Each frame may be passed either directly or as a zero-arg THUNK
    (``findings_thunk=...``) built on first attribute access: plan
    construction is tens of py4j round-trips per frame, and a burst
    completing N submissions through the batched tail was paying
    N × (filter + union + local-rows + pivot) builds for frames its
    consumer (the watcher, which reads only ``column_finding_rows``)
    never touched (r14, guide §1.2 "don't compute things you throw
    away"). Access is idempotent; values are identical either way.
    """

    def __init__(self, findings: "DataFrame | None" = None,
                 column_findings: "DataFrame | None" = None,
                 summary: "DataFrame | None" = None, *,
                 column_finding_rows: "list | None" = None,
                 cached: "DataFrame | None" = None,
                 findings_thunk=None, column_findings_thunk=None,
                 summary_thunk=None):
        self._findings = findings
        self._column_findings = column_findings
        self._summary = summary
        self._findings_thunk = findings_thunk
        self._column_findings_thunk = column_findings_thunk
        self._summary_thunk = summary_thunk
        self.column_finding_rows = column_finding_rows
        self.cached = cached

    @property
    def findings(self) -> DataFrame:
        if self._findings is None and self._findings_thunk is not None:
            self._findings = self._findings_thunk()
        return self._findings

    @property
    def column_findings(self) -> DataFrame:
        if (self._column_findings is None
                and self._column_findings_thunk is not None):
            self._column_findings = self._column_findings_thunk()
        return self._column_findings

    @property
    def summary(self) -> DataFrame:
        if self._summary is None and self._summary_thunk is not None:
            self._summary = self._summary_thunk()
        return self._summary

    def error_count(self) -> int:
        return self.findings.filter(F.col("Message_Type") == "Error").count()

    def release(self) -> None:
        """Unpersist the internal findings cache (no-op when absent).
        After this, further actions on `findings` recompute the plan."""
        if self.cached is not None:
            self.cached.unpersist()


@dataclass
class SubmissionValidator:
    """Validates one submission (a dict of sheet-name → raw string
    DataFrame with ``row_index``, as produced by ``read_sheet_csv``)."""

    spark: SparkSession
    sheets: dict[str, DataFrame]
    cbc_id: str = "0"
    declared_participants: int | None = None   # submission.csv iloc[1][1]
    declared_biospecimens: int | None = None   # submission.csv iloc[2][1]
    # DB fallback Merged_Tables for sheets not submitted (S5 JDBC reads in
    # the reference, File_Submission_Object.py:501-527).
    db_merged_tables: dict[str, DataFrame] = field(default_factory=dict)
    icd10_codes: DataFrame | None = None
    expected_columns: dict[str, list[str]] | None = None
    today: datetime.date | None = None
    fix_reference_bugs: bool = True

    def validate(self) -> ValidationResult:
        clean = {name: cleanup_sheet(df)
                 for name, df in self.sheets.items()
                 if name not in SKIP_VALIDATION}

        merged = dict(self.db_merged_tables)
        for name, df in clean.items():
            mt = merged_table(df, name)
            if mt is not None:
                merged[name] = mt

        parts: list[DataFrame] = []
        part_sheets: list[tuple[str, DataFrame, BoundSheet]] = []
        bio_sheets: list[tuple[str, DataFrame, BoundSheet]] = []

        # Findings legs accumulate as SQL text over per-sheet temp views
        # and submit as ONE spark.sql: each compile_sheet_findings +
        # unionByName leg costs a JVM analysis of its whole subtree —
        # the dominant driver-latency term of a multi-sheet validate()
        # (same restructure as q_rulebook_full, r8; global dedup below
        # is unchanged, so findings are identical).
        import uuid as _uuid
        run_id = _uuid.uuid4().hex[:8]
        sql_legs: list[str] = []
        view_names: list[str] = []

        for name, df in clean.items():
            original_cols = [c for c in df.columns if c != "row_index"]
            enriched, drop_list = merge_tables(name, df, merged)
            enriched = with_typed_shadows(enriched)
            # Memoized: submissions 2..N sharing this sheet schema skip
            # both the rule binding and the 459-check SQL render below —
            # the serial driver-build fraction that Amdahl-bounds
            # concurrent orchestration (BENCH_NOTES r10/r11).
            bound = bind_sheet_rules_cached(
                name, original_cols, self.cbc_id,
                drop_list=drop_list, today=self.today,
                fix_reference_bugs=self.fix_reference_bugs)
            # Dependency columns referenced by rules but absent (e.g. the
            # SARS column when prior_clinical_test wasn't submitted and no
            # DB fallback exists) — default to '' so predicates resolve.
            enriched = self._ensure_columns(enriched, bound)
            for c in bound.icd10_columns:
                if self.icd10_codes is not None:
                    enriched = icd10_flag_join(enriched, c, self.icd10_codes,
                                               _icd10_flag(c))
                else:
                    enriched = enriched.withColumn(_icd10_flag(c), F.lit(False))
            texty = all(isinstance(ce.violation, str)
                        and isinstance(ce.message, str)
                        for cr in bound.column_rules for ce in cr.checks)
            if texty:
                view = f"__submission_{run_id}_{len(view_names)}"
                enriched.createOrReplaceTempView(view)
                view_names.append(view)
                sql_legs.extend(sheet_findings_sql_cached(view, name,
                                                          bound))
            else:   # Column-valued checks force the classic compile path
                parts.append(compile_sheet_findings(enriched, name,
                                                    bound.column_rules))
            if bound.dup_id_columns and texty:
                # SQL-text twin over a view of the CLEAN sheet (not the
                # enriched one: enrichment joins must not influence dup
                # multiplicity) — joins the one-statement assembly below
                # instead of paying a per-leg DataFrame analysis
                # (cProfile r11: ~0.26 s of the submission build).
                dview = f"__submission_{run_id}_d{len(view_names)}"
                df.createOrReplaceTempView(dview)
                view_names.append(dview)
                sql_legs.extend(dup_id_findings_sql(dview, name, c)
                                for c in bound.dup_id_columns)
            else:
                for c in bound.dup_id_columns:
                    parts.append(dup_id_findings(df, name, c))
            if bound.registers_participants:
                part_sheets.append((name, df, bound))
            if bound.registers_biospecimens:
                bio_sheets.append((name, df, bound))

        if sql_legs:
            parts.insert(0, self.spark.sql(" UNION ALL ".join(sql_legs)))
        for view in view_names:    # resolved eagerly by spark.sql above
            self.spark.catalog.dropTempView(view)

        parts.extend(self._cross_sheet_findings(clean, merged))

        findings = union_findings(parts) or empty_findings(self.spark)
        findings = cached = dedup_findings(findings).cache()

        parts2 = [findings]
        parts2.extend(self._count_reconciliation(findings, part_sheets,
                                                 bio_sheets))
        findings = union_findings(parts2)

        col_rows = self._column_finding_rows(clean)
        return ValidationResult(findings=findings,
                                column_findings=local_rows_df(
                                    self.spark, col_rows,
                                    COLUMN_FINDING_SCHEMA),
                                summary=findings_summary(findings),
                                column_finding_rows=col_rows,
                                cached=cached)

    # ------------------------------------------------------------------
    def _ensure_columns(self, df: DataFrame, bound: BoundSheet) -> DataFrame:
        # Same-sheet dependency columns always exist; these arrive via the
        # enrichment joins and are absent when the parent sheet was not
        # submitted and no DB fallback exists (the reference always has the
        # MySQL fallback). Sentinels: '' disables dependency-scoped rules;
        # NULL makes assay resolution (C9) flag everything as unresolved —
        # "not found in database or submitted file" is then literally true.
        defaults = {
            "SARS_CoV_2_PCR_Test_Result": F.lit(""),
            "Biospecimen_Type": F.lit(""),
            "Assay_Name": F.lit(None).cast("string"),
            "Assay_Antigen_Source": F.lit(None).cast("string"),
        }
        missing = {c: v for c, v in defaults.items() if c not in df.columns}
        return df.withColumns(missing) if missing else df

    def _cross_sheet_findings(self, clean: dict[str, DataFrame],
                              merged: dict[str, DataFrame]) -> list[DataFrame]:
        """Cross-sheet ID reconciliation via the generated-SQL twins of
        outer_join_spine + the presence decoders (r11): the Column-object
        composition cost ~0.35 s of py4j round-trips per submission on
        the serial driver-build path; one rendered statement analyzes
        once. Equivalence (incl. duplicate-key multiplicity and missing
        sources) pinned by tests/test_cross_sheet.py."""
        from nci_seronet_proc_data_validator_spark.operators.joins import (
            biospecimen_cross_sql,
            participant_cross_sql,
        )
        import uuid as _uuid
        run = _uuid.uuid4().hex[:8]
        views: list[tuple[bool, str]] = []

        def reg(df: DataFrame, tag: str) -> str:
            v = f"__cross_{run}_{tag}"
            # A temp view registers in the DATAFRAME's session, but the
            # SQL below runs on self.spark — fine until a caller-provided
            # side input (a db_merged_tables fallback) was created on a
            # DIFFERENT session. The real case: foreachBatch hands the
            # validator the streaming CLONE session while the fallback
            # frame lives on the original — the view lands in a catalog
            # self.spark.sql never consults (TABLE_OR_VIEW_NOT_FOUND).
            # Global temp views are the public cross-session mechanism;
            # use one exactly when the sessions differ.
            try:
                same = df.sparkSession._jsparkSession.equals(
                    self.spark._jsparkSession)
            except AttributeError:   # e.g. connect-mode wrappers
                same = df.sparkSession is self.spark
            if same:
                df.createOrReplaceTempView(v)
                views.append((False, v))
                return v
            df.createOrReplaceGlobalTempView(v)
            views.append((True, v))
            return f"global_temp.{v}"

        out = []
        part_sources = {s: merged.get(s) for s in
                        ("prior_clinical_test.csv", "demographic.csv",
                         "biospecimen.csv", "confirmatory_clinical_test.csv")}
        if sum(v is not None for v in part_sources.values()) >= 2:
            pviews = {n: (reg(src, f"p{i}") if src is not None else None)
                      for i, (n, src) in enumerate(part_sources.items())}
            submitted = self._submitted_ids(clean, part_sources,
                                            "Research_Participant_ID")
            sv = reg(submitted, "psub") if submitted is not None else None
            out.append(self.spark.sql(
                participant_cross_sql(pviews, self.cbc_id, sv)))
        bio_sources = {s: merged.get(s) for s in
                       ("biospecimen.csv", "aliquot.csv", "equipment.csv",
                        "reagent.csv", "consumable.csv")}
        if sum(v is not None for v in bio_sources.values()) >= 2:
            bviews = {n: (reg(src, f"b{i}") if src is not None else None)
                      for i, (n, src) in enumerate(bio_sources.items())}
            type_sources = {n for n, src in bio_sources.items()
                            if src is not None
                            and "Biospecimen_Type" in src.columns}
            submitted = self._submitted_ids(clean, bio_sources,
                                            "Biospecimen_ID")
            sv = reg(submitted, "bsub") if submitted is not None else None
            out.append(self.spark.sql(biospecimen_cross_sql(
                bviews, self.cbc_id, sv, type_sources=type_sources)))
        for is_global, v in views:      # resolved eagerly by spark.sql above
            if is_global:
                self.spark.catalog.dropGlobalTempView(v)
            else:
                self.spark.catalog.dropTempView(v)
        return out

    def _submitted_ids(self, clean, sources, key) -> DataFrame | None:
        """Union of IDs present in SUBMITTED sheets (get_submitted_ids
        intent, File_Submission_Object.py:356-367 — reference bug §2.9.2:
        its merge result was discarded; we apply the restriction)."""
        if not self.fix_reference_bugs:
            return None
        parts = [df.select(key) for name, df in clean.items()
                 if name in sources and key in df.columns]
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    def _count_reconciliation(self, findings: DataFrame, part_sheets,
                              bio_sheets) -> list[DataFrame]:
        """A4 ``get_passing_part_ids`` (File_Submission_Object.py:397-415):
        distinct submitted IDs that produced no row-level finding on their
        ID column, compared to the declared counts from submission.csv.

        The comparison needs the actual count (an action) — it is driver
        logic in the reference too (reference bug §2.9.6: the emitted
        Column_Value reads an attribute that was never set; we emit the
        declared count, the evident intent).
        """
        out = []
        for declared, sheets, (col_name, label, fname) in (
                (self.declared_participants, part_sheets, A4_FAMILIES[0]),
                (self.declared_biospecimens, bio_sheets, A4_FAMILIES[1])):
            if declared is None or not sheets:
                continue
            passing = None
            for name, df, _ in sheets:
                errs = (findings.filter(
                    (F.col("CSV_Sheet_Name") == name)
                    & (F.col("Column_Name") == col_name)
                    & (F.col("Row_Index") >= 0))
                    .select(F.col("Column_Value").alias(col_name)))
                ok = df.select(col_name).join(errs, col_name, "left_anti")
                passing = ok if passing is None else passing.unionByName(ok)
            n = passing.distinct().count()
            row = a4_mismatch_row(self.spark, declared, n, label, fname)
            if row is not None:
                out.append(row)
        return out

    def _column_finding_rows(self, clean: dict) -> list:
        """P10 ``check_col_names`` (File_Submission_Object.py:55-72):
        header set vs expected catalog — pure driver-side set algebra on
        the column NAMES, no data movement. Values may be DataFrames or
        plain column-name lists (the batched tail passes probed headers
        so no per-submission DataFrame need exist at all)."""
        rows = []
        if self.expected_columns:
            for name, df in clean.items():
                expected = self.expected_columns.get(name)
                if expected is None:
                    continue
                cols = df if isinstance(df, list) else df.columns
                have = [c for c in cols if c != "row_index"]
                rows.extend(column_compare_rows(name, have, expected))
        return rows

    def _column_findings(self, clean: dict) -> DataFrame:
        return local_rows_df(self.spark, self._column_finding_rows(clean),
                             COLUMN_FINDING_SCHEMA)

"""Concurrent multi-submission orchestration.

The reference processes submissions ONE AT A TIME in the Lambda body
(``for zip_file in file_list`` — nci-seronet-data-validator.py:69): each
submission's sheets load, validate, and sink before the next starts. At
100 TB the inter-submission axis is the cheap parallelism: submissions
are independent (separate sheets, separate findings, separate status
rows), so their jobs can share the cluster instead of head-of-line
blocking behind the largest one.

Spark-first shape:

- **One session, many scheduler pools.** Each submission validates on
  its own thread inside the SAME SparkSession, with
  ``spark.scheduler.pool`` set to a per-submission FAIR pool (the
  session factory enables FAIR mode). FAIR pools share executor slots
  round-robin, so a 10-sheet submission cannot starve a 1-sheet one;
  under a FIFO scheduler the same code still overlaps jobs, just
  without the fairness guarantee.
- **Thread-per-submission is driver-side only.** The threads never touch
  each other's state: ``SubmissionValidator.validate`` registers its
  temp views under a per-invocation uuid, and all data movement happens
  in executor tasks. PySpark's pinned-thread mode maps each Python
  thread to its own JVM thread, so the pool-local property cannot leak
  across submissions.
- **Bounded width.** ``max_parallel`` caps in-flight submissions the way
  ``maxFilesPerTrigger`` caps the streaming backlog
  (``streaming/watcher.py``): memory and retry cost stay sized by the
  bound, not the queue length.
"""

from __future__ import annotations

import functools
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import SparkSession

from nci_seronet_proc_data_validator_spark.submission import (
    SubmissionValidator,
    ValidationResult,
)

__all__ = ["CBC_COL", "ConcurrentOutcome", "SUB_COL", "validate_batched",
           "validate_batched_results", "validate_concurrent"]


@dataclass
class ConcurrentOutcome:
    """Per-submission outcome of :func:`validate_concurrent`."""
    result: ValidationResult | None     # None when the submission errored
    materialized: Any                   # return of the materialize hook
    seconds: float                      # wall time inside the worker
    error: Exception | None = None


def _default_materialize(res: ValidationResult) -> dict[str, int]:
    """Force execution inside the worker (so jobs overlap across pools)
    and return the error/warning counts — the same numbers the
    reference's job-status row carries (File_Submission_Object.py:458)."""
    counts = {r["Message_Type"]: r["n"] for r in
              (res.findings.groupBy("Message_Type").count()
               .withColumnRenamed("count", "n").collect())}
    return {"errors": counts.get("Error", 0),
            "warnings": counts.get("Warning", 0)}


def validate_concurrent(
        spark: SparkSession,
        submissions: dict[str, dict],
        max_parallel: int = 4,
        materialize: Callable[[ValidationResult], Any] | None = None,
) -> dict[str, ConcurrentOutcome]:
    """Validate many submissions concurrently in one SparkSession.

    ``submissions`` maps a submission id to the ``SubmissionValidator``
    keyword arguments (everything but ``spark``): ``sheets`` plus any of
    ``cbc_id``, ``declared_participants``, ``icd10_codes``,
    ``expected_columns``, ``today``, ... Results are keyed back by the
    same ids.

    ``materialize`` runs INSIDE the worker thread after ``validate()``
    and must touch the findings (default: severity counts) — Spark plans
    are lazy, so without an action per thread nothing would actually
    overlap. A submission that raises is captured in its outcome
    (``error`` set, ``result`` None) without failing the others — the
    reference's per-submission retry model, where one bad zip marks its
    own status row and the batch continues.
    """
    materialize = materialize or _default_materialize

    def _run(item: tuple[str, dict]) -> tuple[str, ConcurrentOutcome]:
        sub_id, kwargs = item
        return sub_id, _run_one(spark, sub_id, kwargs, materialize)

    width = max(1, min(max_parallel, len(submissions) or 1))
    with ThreadPoolExecutor(max_workers=width,
                            thread_name_prefix="submission") as pool:
        return dict(pool.map(_run, submissions.items()))


def _run_one(spark: SparkSession, sub_id: str, kwargs: dict,
             materialize: Callable[[ValidationResult], Any]
             ) -> ConcurrentOutcome:
    """One submission's worker body. Pool + description are THREAD-LOCAL
    job properties (pinned thread mode) tagging exactly this submission's
    jobs; the finally clears them so nothing later on the same thread
    inherits a submission's pool."""
    sc = spark.sparkContext
    t0 = time.time()
    sc.setLocalProperty("spark.scheduler.pool", f"submission-{sub_id}")
    sc.setJobDescription(f"validate submission {sub_id}")
    try:
        res = SubmissionValidator(spark, **kwargs).validate()
        mat = materialize(res)
        return ConcurrentOutcome(
            result=res, materialized=mat, seconds=time.time() - t0)
    except Exception as exc:  # noqa: BLE001 — isolate per submission
        return ConcurrentOutcome(
            result=None, materialized=None,
            seconds=time.time() - t0, error=exc)
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)
        sc.setJobDescription(None)


# --------------------------------------------------------------- batched
SUB_COL = "__submission_id"
CBC_COL = "__cbc_id"


def validate_batched(spark: SparkSession,
                     subs: "dict[str, dict]",
                     pretagged: "dict[str, DataFrame] | None" = None,
                     pinned_out: "list | None" = None,
                     clean_out: "dict | None" = None
                     ) -> "DataFrame":
    """N same-shape submissions through ONE compiled plan: findings for
    every submission, tagged ``__submission_id``, from a single
    spark.sql statement per leg family.

    Batched mode tags every sheet row with its submission id, unions
    same-named sheets, and compiles the rulebook ONCE — driver build is
    O(distinct sheet schemas) (measured 2.6 s for 8 submissions vs
    9.8 s of serialized per-submission builds), executor work scales
    with rows, and the submission count rides along as an ordinary
    grouping column. The spine joins, dup-ID groupings, enrichment
    joins, and the dedup key all include the tag, so submissions can
    never observe each other
    (pinned by tests/test_orchestrate.py::test_batched_matches_serial).

    **When to use which** (measured, BENCH_NOTES r12, cold JVM per run,
    end-to-end through the CLI): batched wins once the batch shares
    schemas — 8 x 5k-row submissions: batched 40.5 s vs 45.7 s
    ``--jobs 8`` vs 63.5 s serial; 24 tiny submissions: batched 89.9 s
    vs 99.9 s ``--jobs 8``. The r11 guidance that concurrent wins at
    24 subs measured a since-fixed lineage-analysis tax in the batched
    tail (see :func:`validate_batched_results`), not the plan.
    Concurrent remains right for few or schema-heterogeneous
    submissions; past ~20 submissions, sharding a batched run across
    driver PROCESSES adds another ~1.4x (GIL escape, BENCH_NOTES r12).

    This is the ONE submission compiler: ``SubmissionValidator.validate``
    is a batch of one, so a single submission and a burst compile
    through the same code path.

    Scope/constraints (ValueError otherwise):
    - every submission shares ``today`` and ``fix_reference_bugs`` (the
      rulebook binding is per those values); ``cbc_id`` MAY differ per
      submission (the production shape — the reference resolves the CBC
      per submission, File_Submission_Object.py:82-87): every row is
      tagged ``__cbc_id`` at load and the C5 prefix checks + cross-sheet
      well-formed-ID scopes render as CASEs over that column, one
      literal-regex branch per distinct CBC;
    - every submission has an IDENTICAL sheet-name set: the >=2
      cross-sheet family gates and the enrichment-parent availability
      are computed over the batch union, so a submission missing a
      family sheet the others have would silently receive spine
      findings / NULL-joined dependency columns that its batch of one
      would never produce;
    - same-named sheets share an identical column set (one schema → one
      compiled rule set);
    - ``db_merged_tables`` (the S5 JDBC fallback parents,
      File_Submission_Object.py:501-527) may differ per submission in
      content but every submission names the SAME fallback sheet set
      and same-named fallbacks share a column set; each submission's
      fallback frames are tagged like its sheets and used only for
      sheets the batch did not submit. A fallback frame may live in
      another SparkSession (the streaming clone case) — its views then
      register as global temp views;
    - every bound check must render as SQL text (always true for the
      built-in rulebook; a Column-valued custom rule has no text form —
      only direct ``plans.rules.compile_sheet_findings`` callers can
      evaluate it);
    - ``icd10_codes`` may be passed in any submission's kwargs; the
      first non-None wins (it is a shared dictionary by nature).
    Count reconciliation (A4), the quality gate, and the per-submission
    summary stay per-submission driver logic — run them on each
    submission's slice of the returned findings.

    ``pretagged``: optional {sheet_name: DataFrame} where each frame is
    ONE multi-file scan already carrying ``__submission_id`` and a
    per-file ``row_index`` (``sources.readers.read_sheet_csv_tagged``) —
    the 100 TB scan shape: N submissions are just N files of one
    datasource, not N unioned single-file scan nodes. When provided, the
    per-submission tag+union step is skipped (the remaining
    per-submission driver cost), and THIS function reads
    ``subs[sid]["sheets"]`` only for its KEYS (the sheet-name-set
    constraint) — but :func:`validate_batched_results` additionally
    dereferences the per-submission sheet DataFrames in its tail (A4
    count reconciliation and the P10 column findings), so callers of
    THAT entry point must supply real frames, not placeholders; callers
    must build both structures from the same listing either way.

    ``clean_out``: optional dict the function fills with its per-sheet
    CLEANED tagged union frames ({sheet_name: DataFrame carrying
    ``__submission_id``/``__cbc_id``}) — the exact frames the findings
    compiled from, for callers that need batch-wide derived work over
    the same rows (:func:`validate_batched_results`' one-job A4).

    ``pinned_out``: optional list the function APPENDS its per-sheet
    persisted union frames to. Those persists are data-scale (N
    submissions' parsed CSVs) and multi-consumer within the one
    compiled statement, but once a caller has materialized the findings
    (e.g. :func:`validate_batched_results`' eager checkpoint) they are
    dead weight until the ContextCleaner notices — pass a list and
    ``unpersist()`` each after your materializing action for
    deterministic release (a resident watcher must; a batch CLI may
    skip it and let process exit clean up).

    Returns a DataFrame with ``__submission_id`` + the six finding
    columns, deduplicated per submission with the standard key.
    """
    import uuid as _uuid

    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.errors import (
        FINDING_COLUMNS,
        empty_findings,
    )
    from nci_seronet_proc_data_validator_spark.functions.checks import (
        PerRowCbc,
    )
    from nci_seronet_proc_data_validator_spark.operators.joins import (
        MERGE_COLS,
        biospecimen_cross_sql,
        icd10_flag_join,
        merge_tables,
        participant_cross_sql,
    )
    from nci_seronet_proc_data_validator_spark.operators.typing import (
        with_typed_shadows,
    )
    from nci_seronet_proc_data_validator_spark.plans.rulebook import (
        bind_sheet_rules_cached,
    )
    from nci_seronet_proc_data_validator_spark.plans.rules import (
        dup_id_findings_sql,
        sheet_findings_sql_cached,
    )
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        cleanup_sheet,
        sql_map_literal,
    )
    from nci_seronet_proc_data_validator_spark.submission import (
        SKIP_VALIDATION,
    )

    if not subs:
        raise ValueError("no submissions")
    shared = {(kw.get("today"), kw.get("fix_reference_bugs", True))
              for kw in subs.values()}
    if len(shared) > 1:
        raise ValueError(
            f"batched mode needs shared (today, fix_reference_bugs); "
            f"got {sorted(map(str, shared))} — group submissions by "
            f"those values, one batch each")
    today, fix_bugs = next(iter(shared))
    sheet_sets = {sid: frozenset(n for n in kw["sheets"]
                                 if n not in SKIP_VALIDATION)
                  for sid, kw in subs.items()}
    if len(set(sheet_sets.values())) > 1:
        raise ValueError(
            "batched mode needs an identical sheet-name set per "
            "submission (the cross-sheet family gates and enrichment "
            "parents are computed over the batch union); got "
            f"{sorted({tuple(sorted(s)) for s in sheet_sets.values()})}"
            " — group submissions by sheet set, one batch each")
    db_sets = {frozenset(kw.get("db_merged_tables") or ())
               for kw in subs.values()}
    if len(db_sets) > 1:
        raise ValueError(
            "batched mode needs an identical db_merged_tables sheet-name "
            "set per submission (the fallback parents feed the same "
            "batch-wide enrichment and cross-sheet gates); got "
            f"{sorted(tuple(sorted(s)) for s in db_sets)} — group "
            "submissions by fallback set, one batch each")
    cbc_by_sub = {sid: str(kw.get("cbc_id", "0"))
                  for sid, kw in subs.items()}
    cbc = PerRowCbc(column=CBC_COL,
                    values=tuple(sorted(set(cbc_by_sub.values()))))
    icd10 = next((kw["icd10_codes"] for kw in subs.values()
                  if kw.get("icd10_codes") is not None), None)

    def tag_union(name: str, legs: list) -> "DataFrame":
        cols = {tuple(sorted(leg.columns)) for leg in legs}
        if len(cols) > 1:
            raise ValueError(
                f"batched mode needs one schema per sheet name; "
                f"{name} has {len(cols)} distinct column sets")
        u = legs[0]
        for leg in legs[1:]:
            u = u.unionByName(leg)
        return u

    def tags(sid: str) -> dict:
        return {SUB_COL: F.lit(sid), CBC_COL: F.lit(cbc_by_sub[sid])}

    clean: dict[str, "DataFrame"] = {}
    if pretagged is not None:
        wanted = {n for kw in subs.values() for n in kw["sheets"]
                  if n not in SKIP_VALIDATION}
        missing_pre = wanted - set(pretagged)
        if missing_pre:
            raise ValueError(f"pretagged is missing sheets "
                             f"{sorted(missing_pre)}")
        # cbc per row from the submission tag; unknown tags fail loud
        # (a pretagged frame with a sid outside `subs` would otherwise
        # silently validate under no CBC).
        cbc_expr = F.coalesce(
            F.expr(sql_map_literal(spark, sorted(cbc_by_sub.items())))[
                F.col(SUB_COL)],
            F.raise_error(F.concat(
                F.lit("validate_batched: pretagged row with unknown "
                      "submission id "), F.col(SUB_COL))))
        for name in sorted(wanted):
            df = pretagged[name]
            if SUB_COL not in df.columns:
                raise ValueError(f"pretagged[{name}] lacks {SUB_COL}")
            u = df.withColumn(CBC_COL, cbc_expr)
            clean[name] = cleanup_sheet(
                u, fix_bugs, carry_cols=(SUB_COL, CBC_COL)).persist()
            if pinned_out is not None:
                pinned_out.append(clean[name])
    else:
        # -- tag + union same-named sheets, one cleanup per sheet name
        by_sheet: dict[str, list] = {}
        for sid, kw in subs.items():
            for name, df in kw["sheets"].items():
                if name in SKIP_VALIDATION:
                    continue
                by_sheet.setdefault(name, []).append(
                    df.withColumns(tags(sid)))
        for name, legs in by_sheet.items():
            u = tag_union(name, legs)
            # Persist: the union is a MULTI-consumer base (findings
            # chunks, dup-ID leg, Merged_Table projections, submitted-id
            # views) — unpersisted, every consumer re-parses N
            # submissions' multiLine CSVs from text. One parse fills the
            # cache; consumers scan columnar blocks. Freed by the
            # ContextCleaner when the plan is garbage-collected (same
            # note as semdedup's localCheckpoint).
            clean[name] = cleanup_sheet(
                u, fix_bugs, carry_cols=(SUB_COL, CBC_COL)).persist()
            if pinned_out is not None:
                pinned_out.append(clean[name])
    if clean_out is not None:
        clean_out.update(clean)

    # -- per-submission-keyed Merged_Tables (tags carried: the submission
    # id keys every join; the CBC tag rides along for the cross-sheet
    # scope CASEs — functionally dependent on the id, so joining on both
    # never changes multiplicity)
    merged: dict[str, "DataFrame"] = {}
    for name, df in clean.items():
        mc = [c for c in MERGE_COLS.get(name, []) if c in df.columns]
        if mc:
            merged[name] = df.select(SUB_COL, CBC_COL, *mc)
    # DB fallback parents for sheets the batch did not submit, tagged per
    # submission so enrichment and the spines key them like sheet rows
    fallback: dict[str, list] = {}
    for sid, kw in subs.items():
        for name, df in (kw.get("db_merged_tables") or {}).items():
            if name not in merged:
                fallback.setdefault(name, []).append(
                    df.withColumns(tags(sid)))
    for name, legs in fallback.items():
        merged[name] = tag_union(name, legs)

    run_id = _uuid.uuid4().hex[:8]
    sql_legs: list[str] = []
    registered: list[tuple[bool, str]] = []

    def reg(df, tag: str) -> str:
        v = f"__batched_{run_id}_{tag}"
        # A temp view registers in the DATAFRAME's session, but the SQL
        # below runs on ``spark`` — a db_merged_tables fallback created
        # on a DIFFERENT session (foreachBatch hands the compiler the
        # streaming CLONE session while the fallback lives on the
        # original) would land in a catalog spark.sql never consults
        # (TABLE_OR_VIEW_NOT_FOUND). Global temp views are the public
        # cross-session mechanism; use one exactly when sessions differ.
        try:
            same = df.sparkSession._jsparkSession.equals(
                spark._jsparkSession)
        except AttributeError:   # e.g. connect-mode wrappers
            same = df.sparkSession is spark
        if same:
            df.createOrReplaceTempView(v)
            registered.append((False, v))
            return v
        df.createOrReplaceGlobalTempView(v)
        registered.append((True, v))
        return f"global_temp.{v}"

    # Dependency columns referenced by rules but absent (e.g. the SARS
    # column when prior_clinical_test was neither submitted nor given a
    # DB fallback). Sentinels: '' disables dependency-scoped rules; NULL
    # makes assay resolution (C9) flag everything as unresolved — "not
    # found in database or submitted file" is then literally true.
    defaults = {
        "SARS_CoV_2_PCR_Test_Result": F.lit(""),
        "Biospecimen_Type": F.lit(""),
        "Assay_Name": F.lit(None).cast("string"),
        "Assay_Antigen_Source": F.lit(None).cast("string"),
    }
    for i, (name, df) in enumerate(clean.items()):
        original_cols = [c for c in df.columns
                         if c not in ("row_index", SUB_COL, CBC_COL)]
        enriched, drop_list = merge_tables(name, df, merged,
                                           extra_keys=(SUB_COL,))
        enriched = with_typed_shadows(
            enriched, skip=("row_index", SUB_COL, CBC_COL))
        bound = bind_sheet_rules_cached(
            name, original_cols, cbc, drop_list=drop_list,
            today=today, fix_reference_bugs=fix_bugs)
        if not all(isinstance(ce.violation, str)
                   and isinstance(ce.message, str)
                   for cr in bound.column_rules for ce in cr.checks):
            raise ValueError(
                f"batched mode compiles findings as SQL text; sheet "
                f"{name} bound a Column-valued check (custom caller "
                f"rule) that has no text form — evaluate it with "
                f"plans.rules.compile_sheet_findings")
        missing = {c: v for c, v in defaults.items()
                   if c not in enriched.columns}
        if missing:
            enriched = enriched.withColumns(missing)
        for c in bound.icd10_columns:
            if icd10 is not None:
                enriched = icd10_flag_join(enriched, c, icd10,
                                           c + "__icd10_valid")
            else:
                enriched = enriched.withColumn(c + "__icd10_valid",
                                               F.lit(False))
        view = reg(enriched, f"s{i}")
        # codegen_chunk=9: the fused full-width findings projection
        # exceeds HotSpot's JIT size ceiling and runs interpreted (the
        # rulebook's measured lesson, plans/rules.py) — at 8x-unioned
        # batched volume that is the dominant cost, not a nicety.
        # memoized render: repeated schemas pay one str.replace per leg
        sql_legs.extend(sheet_findings_sql_cached(
            view, name, bound, codegen_chunk=9, carry_cols=(SUB_COL,)))
        if bound.dup_id_columns:
            dview = reg(df, f"d{i}")
            sql_legs.extend(
                dup_id_findings_sql(dview, name, c, group_cols=(SUB_COL,))
                for c in bound.dup_id_columns)

    # -- cross-sheet, spine keys include the tag
    def submitted_view(family: tuple, key: str, tag: str) -> str | None:
        if not fix_bugs:
            return None
        parts = [df.select(SUB_COL, CBC_COL, key)
                 for name, df in clean.items()
                 if name in family and key in df.columns]
        if not parts:
            return None
        u = parts[0]
        for p_ in parts[1:]:
            u = u.unionByName(p_)
        return reg(u.distinct(), tag)

    part_family = ("prior_clinical_test.csv", "demographic.csv",
                   "biospecimen.csv", "confirmatory_clinical_test.csv")
    part_srcs = {n: merged.get(n) for n in part_family}
    if sum(v is not None for v in part_srcs.values()) >= 2:
        views = {n: (reg(src, f"p{j}") if src is not None else None)
                 for j, (n, src) in enumerate(part_srcs.items())}
        sv = submitted_view(part_family, "Research_Participant_ID", "psub")
        sql_legs.append(participant_cross_sql(
            views, cbc, sv, group_col=SUB_COL, extra_keys=(CBC_COL,)))
    bio_family = ("biospecimen.csv", "aliquot.csv", "equipment.csv",
                  "reagent.csv", "consumable.csv")
    bio_srcs = {n: merged.get(n) for n in bio_family}
    if sum(v is not None for v in bio_srcs.values()) >= 2:
        views = {n: (reg(src, f"b{j}") if src is not None else None)
                 for j, (n, src) in enumerate(bio_srcs.items())}
        type_sources = {n for n, src in bio_srcs.items()
                        if src is not None
                        and "Biospecimen_Type" in src.columns}
        sv = submitted_view(bio_family, "Biospecimen_ID", "bsub")
        sql_legs.append(biospecimen_cross_sql(
            views, cbc, sv, type_sources=type_sources,
            group_col=SUB_COL, extra_keys=(CBC_COL,)))

    if not sql_legs:
        out = empty_findings(spark).withColumn(SUB_COL, F.lit(""))
        return out.select(SUB_COL, *FINDING_COLUMNS)
    findings = spark.sql(" UNION ALL ".join(sql_legs))
    for is_global, v in registered:  # resolved eagerly by spark.sql above
        if is_global:
            spark.catalog.dropGlobalTempView(v)
        else:
            spark.catalog.dropTempView(v)
    # per-submission dedup: the standard key, tag prepended
    return findings.dropDuplicates(
        [SUB_COL, "CSV_Sheet_Name", "Row_Index", "Column_Name",
         "Column_Value"])


def validate_batched_results(
        spark: SparkSession,
        subs: "dict[str, dict]",
        pretagged: "dict[str, DataFrame] | None" = None,
        combined_out: "list | None" = None
        ) -> "dict[str, ValidationResult]":
    """CLI-grade batched validation: ONE compiled plan for the findings
    (:func:`validate_batched`), then the per-submission driver tail —
    count reconciliation (A4), header/column findings (P10), and the
    sheet × severity summary — on each tagged slice, returning full
    :class:`ValidationResult` objects keyed like
    :func:`validate_concurrent`.

    The tail COMPARISONS are per-submission by contract (the declared
    counts come from each submission's own ``submission.csv``, and the
    reconciling comparison is driver logic in the reference too,
    File_Submission_Object.py:397-415) — but the COUNTS they compare
    against are computed batch-wide: one grouped anti-join job per ID
    family over the tagged clean frames, keyed by the submission tag,
    instead of up to two driver actions per submission (r13: the
    per-submission A4 actions were the last O(N)-actions stage of a
    completion burst). Per-submission work is thereafter pure driver
    logic: dict lookups, P10 header set algebra, and lazy summary plan
    construction — no actions.

    A sheet registers into the participant/biospecimen reconciliation
    when the ID column is present in its own (pre-enrichment) columns
    (enrichment only adds absent columns, ``merge_tables``), and sheet
    schemas are batch-uniform (the validate_batched constraint), so the
    batch-wide family equals every submission's own family.

    ``pretagged`` callers note: unlike :func:`validate_batched`, this
    entry point DEREFERENCES ``subs[sid]["sheets"]`` values — the tail
    computes the P10 column findings from each submission's own sheet
    COLUMN NAMES. With ``pretagged`` the values may therefore be plain
    column-name lists (e.g. probed headers) instead of DataFrames —
    the cheap shape for bursts, where per-submission DataFrame
    construction is pure py4j overhead; without ``pretagged`` they must
    be real DataFrames (the tag+union compile reads their rows).

    ``combined_out``: optional list that receives ONE DataFrame holding
    the whole batch's row findings (the six columns + the
    ``__submission_id`` tag): the checkpointed batch frame unioned with
    a single local relation of every A4 row. A consumer that sinks the
    batch as a whole (the completion watcher) must use THIS frame, not
    a re-union of the per-submission ``findings`` slices — N slices of
    the same checkpoint execute as N× its partitions in one job
    (measured: 96 tiny submissions → ~3000 tasks, 57 s, for 576 rows),
    while the combined frame is one scan + one local leg. Contents are
    identical (each slice is a partition of the combined frame by tag).
    """
    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.errors import (
        COLUMN_FINDING_SCHEMA,
        findings_summary,
        local_rows_df,
        union_findings,
    )
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        cleanup_columns,
        cleanup_sheet,
    )
    from nci_seronet_proc_data_validator_spark.submission import (
        A4_FAMILIES,
        A4_ROW_SCHEMA,
        SKIP_VALIDATION,
        a4_mismatch_tuple,
    )

    # localCheckpoint, not persist: every per-submission tail/summary
    # action derives a NEW DataFrame from the batched findings, and a
    # persisted df still carries the FULL logical plan (N-leg sheet
    # unions x all rendered SQL legs) — Catalyst re-ANALYZES that tree
    # for each derived action even when execution hits the cache.
    # Measured at 24 tiny submissions: ~3 s of driver analysis per
    # summary, 78 s total. The eager checkpoint truncates lineage to a
    # leaf scan (executor-resident blocks, same ContextCleaner lifetime
    # note as semdedup's) — findings are error-bounded, not data-scale.
    # The per-sheet union persists (data-scale: N submissions' parsed
    # CSVs) have exactly one consumer tree, the checkpoint
    # materialization — free them deterministically the moment it is
    # done, instead of pinning executor storage until GC (a resident
    # watcher compiles bursts for the query's lifetime).
    pinned: list = []
    clean_tagged: dict = {}
    tagged = validate_batched(
        spark, subs, pretagged=pretagged, pinned_out=pinned,
        clean_out=clean_tagged).localCheckpoint(eager=True)

    # -- batched A4: ONE grouped anti-join query for BOTH ID families
    # and the WHOLE batch, replacing up to two driver actions per
    # submission. The per-submission tail was the last O(N)-actions
    # stage of a completion burst (~2.5 s/submission marginal at a
    # 96-submission burst — the compile itself is O(distinct schemas));
    # the grouped form is the same math keyed by the submission tag and
    # a literal family column: anti-join ids against same-sheet ID
    # findings on (sub, family, sheet, value), then count DISTINCT
    # (sub, id) per (sub, family). Runs before the unpersist below so
    # it reads the still-cached parses.
    a4_counts: "dict[str, dict[str, int]]" = {}
    declared_of = {
        "Research_Participant_ID": "declared_participants",
        "Biospecimen_ID": "declared_biospecimens"}
    ids = None
    for col_name, _label, _fname in A4_FAMILIES:
        if not any(kw.get(declared_of[col_name]) is not None
                   for kw in subs.values()):
            continue
        for name, df in sorted(clean_tagged.items()):
            if col_name not in df.columns:
                continue
            a4_counts[col_name] = {}
            leg = df.select(SUB_COL, F.lit(col_name).alias("__family"),
                            F.lit(name).alias("__sheet"),
                            F.col(col_name).alias("__id"))
            ids = leg if ids is None else ids.unionByName(leg)
    if ids is not None:
        errs = (tagged.filter(F.col("Column_Name").isin(list(a4_counts))
                              & (F.col("Row_Index") >= 0))
                .select(SUB_COL, F.col("Column_Name").alias("__family"),
                        F.col("CSV_Sheet_Name").alias("__sheet"),
                        F.col("Column_Value").alias("__id")))
        passing = ids.join(errs, [SUB_COL, "__family", "__sheet", "__id"],
                           "left_anti")
        for r in (passing.select(SUB_COL, "__family", "__id").distinct()
                  .groupBy(SUB_COL, "__family")
                  .agg(F.count("*").alias("n")).collect()):
            a4_counts[r["__family"]][r[SUB_COL]] = r["n"]
    for df in pinned:
        df.unpersist()

    # A4 comparisons from the batch-wide counts — pure driver logic,
    # computed once as tuples so the per-submission results AND the
    # combined batch frame are built from the same rows
    a4_rows: "dict[str, list[tuple]]" = {}
    for sid, kw in subs.items():
        rows = []
        for (col_name, label, fname), declared in (
                (A4_FAMILIES[0], kw.get("declared_participants")),
                (A4_FAMILIES[1], kw.get("declared_biospecimens"))):
            if declared is None or col_name not in a4_counts:
                continue
            tup = a4_mismatch_tuple(declared,
                                    a4_counts[col_name].get(sid, 0),
                                    label, fname)
            if tup is not None:
                rows.append(tup)
        if rows:
            a4_rows[sid] = rows

    # ONE local relation for every A4 row in the batch: per-submission
    # local_rows_df calls would each pay an RDD parallelize + DDL-schema
    # parse round trip; the per-submission frames below are filters of
    # this shared relation (values identical), and the combined batch
    # frame unions it whole (r14).
    a4_all = None
    if a4_rows:
        a4_all = local_rows_df(
            spark,
            [(sid, *row) for sid, rows in sorted(a4_rows.items())
             for row in rows],
            f"{SUB_COL} string, {A4_ROW_SCHEMA}")

    if combined_out is not None:
        combined = tagged
        if a4_all is not None:
            combined = combined.unionByName(a4_all)
        combined_out.append(combined)

    def _tail(item: "tuple[str, dict]") -> "tuple[str, ValidationResult]":
        sid, kw = item
        sv = SubmissionValidator(spark, **kw)
        clean = {n: (cleanup_columns(df) if isinstance(df, list)
                     else cleanup_sheet(df, sv.fix_reference_bugs))
                 for n, df in kw["sheets"].items()
                 if n not in SKIP_VALIDATION}

        # Frames as THUNKS (built on first access): every frame here is
        # tens of py4j round-trips of plan construction, and a burst
        # consumer (the completion watcher) sinks the COMBINED frame and
        # reads only column_finding_rows — eagerly building N filters,
        # unions and pivots was the tail pool's whole cost (r14).
        # Memoized: the summary aggregates the same frame `.findings`
        # returns instead of building a second copy.
        @functools.cache
        def _findings(sid=sid):
            f = tagged.filter(F.col(SUB_COL) == sid).drop(SUB_COL)
            if sid in a4_rows:
                f = union_findings([
                    f, a4_all.filter(F.col(SUB_COL) == sid).drop(SUB_COL)])
            return f

        col_rows = sv._column_finding_rows(clean)
        return sid, ValidationResult(
            findings_thunk=_findings,
            column_findings_thunk=lambda: local_rows_df(
                spark, col_rows, COLUMN_FINDING_SCHEMA),
            summary_thunk=lambda s=_findings: findings_summary(s()),
            column_finding_rows=col_rows)

    # The tail is now action-free per submission (A4 counts precomputed
    # batch-wide above; P10 is header set algebra; the summary is a
    # lazy plan) — the pool overlaps the remaining per-submission py4j
    # plan construction, same isolation model as validate_concurrent.
    with ThreadPoolExecutor(max_workers=min(8, len(subs)),
                            thread_name_prefix="batched-tail") as pool:
        return dict(pool.map(_tail, subs.items()))

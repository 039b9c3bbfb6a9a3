"""Structured Streaming surface.

The reference's "streaming" is an externally-triggered micro-batch: each
Lambda invocation discovers newly-landed submissions, validates them, marks
them done (nci-seronet-data-validator.py:62-117). The Spark-native
equivalent is a file-source stream with ``Trigger.AvailableNow`` — each run
drains everything that arrived since the last checkpoint, then stops: the
same at-least-once batch semantics, with offsets/checkpointing handled by
the engine instead of a jobs table.

Also provided: a watermarked event-time rollup (the streaming twin of the
batch ``events_hourly`` query) — this is where late data / watermark
semantics live, which the reference never had.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _icd10_flags(df: DataFrame, bound, icd10_codes) -> DataFrame:
    """Attach the ``__icd10_valid`` flag columns C8 checks read: the J8
    broadcast join when a dictionary is provided (re-broadcast per
    micro-batch, picking up dictionary updates between batches), a
    FALSE literal otherwise — the same contract as batch validate()
    without ``icd10_codes`` (every non-N/A value reports as unknown)."""
    from nci_seronet_proc_data_validator_spark.operators.joins import (
        icd10_flag_join)
    from nci_seronet_proc_data_validator_spark.plans.rulebook import (
        _icd10_flag)
    for c in bound.icd10_columns:
        if icd10_codes is not None:
            df = icd10_flag_join(df, c, icd10_codes, _icd10_flag(c))
        else:
            df = df.withColumn(_icd10_flag(c), F.lit(False))
    return df


def _resolve(value_or_fn):
    """Per-micro-batch resolution of a watcher side input: a callable is
    re-evaluated at every batch (the stream-static pattern — a CBC
    registered or a dictionary updated BETWEEN batches is honored by the
    next batch without restarting the query, mirroring the reference's
    per-submission MySQL resolution, File_Submission_Object.py:82-87); a
    plain value is used as-is."""
    return value_or_fn() if callable(value_or_fn) else value_or_fn


def _sheet_batch_findings(df: DataFrame, epoch_id: int, sheet_name: str,
                          columns: list, cbc, bind_kwargs: dict | None,
                          icd10_codes,
                          carry_cols: tuple = ()) -> DataFrame:
    """The shared per-micro-batch findings body of every watcher:
    typed shadows → memoized rule bind → dependency-column defaults →
    ICD-10 flags → ONE rendered findings statement. ``df`` must already
    carry ``row_index`` plus any ``carry_cols``; ``cbc`` is a literal id
    or a :class:`PerRowCbc`. Registered against the MICRO-BATCH session
    (foreachBatch hands a df bound to a batch-cloned session; the view
    must live and be queried there, not on the outer session a closure
    would capture)."""
    from nci_seronet_proc_data_validator_spark.operators.typing import (
        with_typed_shadows)
    from nci_seronet_proc_data_validator_spark.plans.rulebook import (
        bind_sheet_rules_cached)
    from nci_seronet_proc_data_validator_spark.plans.rules import (
        sheet_findings_sql)

    df = with_typed_shadows(df, list(columns))
    # Memoized: long-lived watchers re-bind identical rules every
    # micro-batch; the cache keys on (sheet, columns, cbc, date) so a
    # midnight rollover still refreshes expiration cutoffs.
    bound = bind_sheet_rules_cached(sheet_name, list(columns), cbc,
                                    **(bind_kwargs or {}))
    if "SARS_CoV_2_PCR_Test_Result" not in df.columns:
        df = df.withColumn("SARS_CoV_2_PCR_Test_Result", F.lit(""))
    df = _icd10_flags(df, bound, icd10_codes)
    import uuid as _uuid
    sess = df.sparkSession
    # uuid, not (sheet, epoch): two concurrent watchers on the same
    # sheet name would collide on epoch-keyed names mid-analysis
    view = f"__watch_{_uuid.uuid4().hex[:8]}_{epoch_id}"
    df.createOrReplaceTempView(view)
    legs = sheet_findings_sql(view, sheet_name, bound.column_rules,
                              carry_cols=carry_cols)
    findings = sess.sql(" UNION ALL ".join(legs))
    sess.catalog.dropTempView(view)     # resolved eagerly by sess.sql
    return findings


def _epoch_sink(findings: DataFrame, epoch_id: int, output_dir: str,
                status_cb=None) -> None:
    """The watchers' restart-recovery contract, in one place.

    foreachBatch is at-least-once: if the process dies between the
    findings write and the checkpoint commit, the restarted query
    REPLAYS that batch with the SAME ``epoch_id``. A plain
    ``mode("append")`` sink would then hold the batch's findings twice.
    Findings are therefore written ``partitionBy("epoch")`` with dynamic
    partition overwrite, so a replayed batch overwrites exactly its own
    ``epoch=<id>`` directory and nothing else — committed epochs are
    untouched, the half-written epoch is replaced, and the drained
    output equals the batch compile with no duplicates or gaps. This
    mirrors the reference's Lambda retry model, where a re-invoked
    submission overwrites its own status row / error report rather than
    appending (nci-seronet-data-validator.py:152-159,
    File_Submission_Object.py:439-499). Any replacement sink wired in
    via ``status_cb`` must honor the same contract: dedupe or upsert on
    ``epoch_id`` (the S11 job-status upsert already does — it keys on
    the sheet and overwrites the status row).
    """
    (findings.withColumn("epoch", F.lit(epoch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("epoch")
     .parquet(output_dir))
    if status_cb is not None:
        status_cb(findings, epoch_id)


def validate_stream(spark: SparkSession, input_dir: str, checkpoint: str,
                    sheet_name: str, columns: list[str], cbc_id: str,
                    output_dir: str,
                    status_cb=None,
                    bind_kwargs: dict | None = None,
                    max_files_per_trigger: int | None = None,
                    icd10_codes: DataFrame | None = None
                    ) -> "StreamingQuery":
    """Continuously validate CSV sheets landing in ``input_dir``.

    Each micro-batch runs the SAME batch rule compiler via foreachBatch —
    one code path for batch and streaming (the Spark idiom for exactly this
    Lambda-trigger pattern). AvailableNow drains pending files then stops;
    swap the trigger for processingTime to run resident.

    ``max_files_per_trigger``: bound on files per micro-batch. At 100 TB
    a cold start (or a long outage) faces the WHOLE backlog at once;
    unbounded, availableNow would put every pending file into one giant
    batch — one shuffle-sized-by-the-backlog, one retry domain, one
    commit. With the bound set, availableNow still drains the full
    backlog to completion but in bounded micro-batches (each its own
    checkpointed commit), so executor memory and retry cost are sized by
    the bound, not the outage length. Findings are identical either way
    up to the per-batch ``row_index`` (see below); keep it unset only
    when batches are known-small (the reference's per-submission Lambda
    granularity, nci-seronet-data-validator.py:152-159).

    ``status_cb(findings_df, epoch_id)``: optional per-batch hook after
    the findings write — the wiring point for the S11 job-status upsert
    (``sinks.reports.job_status_rows`` + ``upsert_job_status``), so a
    resident watcher keeps the jobs table current batch by batch exactly
    like the reference's Lambda bookkeeping.

    ``bind_kwargs``: extra keyword args for ``bind_sheet_rules``
    (``drop_list``, ``today``, ``fix_reference_bugs``) so a watcher can
    pin the same binding a batch run uses.

    **Sink idempotence (restart-recovery contract):** see
    :func:`_epoch_sink` — the shared epoch-keyed dynamic-partition-
    overwrite sink every watcher writes through. ``icd10_codes`` may be
    a DataFrame or a zero-arg callable re-resolved per micro-batch
    (:func:`_resolve`).

    Layout note: the epoch-partitioned layout is NOT compatible with an
    ``output_dir`` written by the pre-r10 flat-append sink (``epoch`` was
    a data column there; mixing flat part files with ``epoch=N/``
    subdirectories breaks partition discovery on read). When upgrading a
    deployed watcher, point it at a fresh ``output_dir`` + ``checkpoint``
    pair, or one-shot rewrite the old output
    (``read.parquet(old).write.partitionBy("epoch").parquet(new)``).
    """
    from nci_seronet_proc_data_validator_spark.plans.advisor import (
        warn_nonsplittable_csv)

    # The multiLine option below makes each landed file single-task;
    # flag any oversized file already sitting in the watched dir (files
    # landing later are the deployment's own sizing concern).
    warn_nonsplittable_csv(input_dir)

    schema = T.StructType(
        [T.StructField(c, T.StringType(), True) for c in columns])
    reader = (spark.readStream
              .option("header", "true")
              .option("nullValue", "\u0000")
              .option("emptyValue", "")
              # Record-parity with the batch reader (readers.py): a
              # quoted field embedding a newline is ONE record, not
              # phantom rows — same silent-corruption fix, same
              # non-splittable-file trade (streaming parallelism comes
              # from many landed files anyway).
              .option("multiLine", "true")
              .schema(schema))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               int(max_files_per_trigger))
    raw = reader.csv(input_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        df = batch_df.na.fill("")
        # Streaming batches have no global line order; row identity is the
        # per-batch monotonic id (documented deviation from the CSV-line
        # convention, which needs a single-file batch to be meaningful).
        df = df.withColumn("row_index",
                           F.monotonically_increasing_id() + 2)
        findings = _sheet_batch_findings(
            df, epoch_id, sheet_name, list(columns), cbc_id, bind_kwargs,
            _resolve(icd10_codes))
        _epoch_sink(findings, epoch_id, output_dir, status_cb)

    return (raw.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def validate_stream_multi(spark: SparkSession, input_glob: str,
                          checkpoint: str, sheet_name: str,
                          columns: list[str],
                          cbc_by_sub,
                          output_dir: str,
                          status_cb=None,
                          bind_kwargs: dict | None = None,
                          max_files_per_trigger: int | None = None,
                          sub_pattern: str = r".*/([^/]+)/[^/]+$",
                          icd10_codes: DataFrame | None = None
                          ) -> "StreamingQuery":
    """Multi-SUBMISSION watcher: one streaming query validating sheets
    landing under per-submission directories, mixed labs included.

    The production continuous shape: submissions from different CBCs
    land as ``<root>/<submission>/<sheet>`` and ONE resident query
    validates them all — the streaming twin of batched mode
    (``orchestrate.validate_batched``), sharing its machinery:

    - ``input_glob`` (e.g. ``<root>/*/demographic.csv``) makes every
      submission's file part of the SAME file source — N submissions
      are N files of one stream, never N queries;
    - each row is tagged ``__submission_id`` (extracted from its file
      path via ``sub_pattern``) and ``__cbc_id`` (``cbc_by_sub``
      lookup; unknown submissions get '0', the reference's unknown-lab
      code, so their ID checks report "submission file is missing"
      instead of silently passing). ``cbc_by_sub`` may be a dict or a
      ZERO-ARG CALLABLE returning one — a callable is re-evaluated at
      every micro-batch (:func:`_resolve`), so a resident watcher picks
      up labs registered AFTER the query started without restart (the
      stream-static pattern; the reference resolves the CBC per
      submission from MySQL at load time,
      File_Submission_Object.py:82-87 — pair with
      ``sources.jdbc.read_cbc_map`` for the JDBC-backed form);
    - the rulebook binds ONCE per (schema, distinct-CBC-set, date) with
      ``PerRowCbc`` — the C5 prefix checks render as CASEs over
      ``__cbc_id``, identical to batched mode — and the memoized bind
      makes micro-batch N a cache hit;
    - ``row_index`` is counted PER FILE
      (``sources.readers.with_per_file_row_index``) — an upgrade over
      the single-sheet watcher's per-batch monotonic id: findings cite
      the actual CSV line of the submission's own file, and the index
      is stable under micro-batch packing (``maxFilesPerTrigger``);
    - the sink is the same epoch-keyed idempotent parquet as
      :func:`validate_stream` (dynamic partition overwrite per epoch —
      see its restart-recovery contract), with ``__submission_id`` as
      an ordinary output column.
    """
    from nci_seronet_proc_data_validator_spark.functions.checks import (
        PerRowCbc)
    from nci_seronet_proc_data_validator_spark.plans.advisor import (
        warn_nonsplittable_csv)
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        with_per_file_row_index)

    warn_nonsplittable_csv(input_glob)
    sub_col, cbc_col, file_col = "__submission_id", "__cbc_id", "__sg_file"

    schema = T.StructType(
        [T.StructField(c, T.StringType(), True) for c in columns])
    reader = (spark.readStream
              .option("header", "true")
              .option("nullValue", "\u0000")
              .option("emptyValue", "")
              .option("multiLine", "true")
              .schema(schema))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               int(max_files_per_trigger))
    raw = reader.csv(input_glob)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # CBC map resolved PER BATCH (dynamic when cbc_by_sub is a
        # callable): a lab registered between micro-batches is honored
        # by this batch; still-unknown submissions stay '0'.
        cbc_map = {str(s): str(c)
                   for s, c in _resolve(cbc_by_sub).items()}
        cbc_values = tuple(sorted(set(cbc_map.values()) | {"0"}))
        df = with_per_file_row_index(batch_df.na.fill(""),
                                     file_col=file_col)
        sub = F.regexp_extract(F.col(file_col), sub_pattern, 1)
        cbc = (F.coalesce(
            F.create_map(*[x for s, c in sorted(cbc_map.items())
                           for x in (F.lit(s), F.lit(c))])[sub],
            F.lit("0")) if cbc_map else F.lit("0"))
        df = (df.withColumn(sub_col, sub).withColumn(cbc_col, cbc)
              .drop(file_col))
        findings = _sheet_batch_findings(
            df, epoch_id, sheet_name, columns,
            PerRowCbc(column=cbc_col, values=cbc_values),
            bind_kwargs, _resolve(icd10_codes), carry_cols=(sub_col,))
        _epoch_sink(findings, epoch_id, output_dir, status_cb)

    return (raw.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def validate_stream_submissions(spark: SparkSession, root_dir: str,
                                checkpoint: str,
                                declared_sheets,
                                output_dir: str,
                                cbc_map=None,
                                icd10_codes=None,
                                expected_columns: dict | None = None,
                                bind_kwargs: dict | None = None,
                                max_files_per_trigger: int | None = None,
                                status_cb=None,
                                complete_cb=None,
                                failed_cb=None
                                ) -> "StreamingQuery":
    """Submission-COMPLETENESS-gated watcher: continuous operation with
    the reference's FULL per-submission semantics — per-sheet rules,
    dup-ID checks, enrichment-dependent rules, the J3-J6 cross-sheet
    spines + presence decoding, the A4 count reconciliation, and the
    global findings dedup.

    The reference's production flow validates a submission only once it
    is COMPLETE (the jobs table marks arrival; the Lambda picks up whole
    submissions, nci-seronet-data-validator.py:152-159) — cross-sheet
    checks are meaningless against a partial submission. This watcher is
    the streaming form of that gate:

    - ONE file-source stream watches ``<root>/<submission>/<sheet>`` for
      every declared sheet name at once (a ``binaryFile`` source with
      only ``path`` projected — the scan never reads file CONTENT; the
      stream is a checkpointed arrival queue, the jobs-table twin);
    - each micro-batch appends the newly-landed (submission, sheet,
      path) rows to an epoch-keyed ARRIVALS ledger
      (``<output>/arrivals``, same dynamic-partition-overwrite
      idempotence as the findings sink);
    - a submission whose cumulative arrivals first cover
      ``declared_sheets`` IN THIS BATCH is validated through the one
      submission compiler (``orchestrate.validate_batched_results``,
      which ``SubmissionValidator.validate`` also calls, over per-file
      row indexes — byte-identical row identity and findings to the
      batch CLI), and its full findings land in the epoch-keyed
      findings sink (``<output>/findings``) tagged
      ``__submission_id``.

    Why findings emit at COMPLETION rather than per sheet at arrival:
    the batch compile's per-sheet findings depend on cross-sheet
    enrichment (merge_tables dependency columns — e.g. demographic rules
    scoped by the prior sheet's SARS result, C9 assay resolution), so
    findings computed against a partial submission can both MISS
    findings and RAISE spurious ones relative to the complete compile,
    and an append-only sink cannot retract. Emitting once, at the gate,
    makes the drained output hash-match the batch compile exactly —
    the property the per-sheet watchers (:func:`validate_stream`,
    :func:`validate_stream_multi`) trade away for earlier feedback.
    Run one of those beside this watcher (separate checkpoint/output)
    when provisional per-sheet findings are wanted too.

    **Restart / replay correctness.** Completion is a deterministic
    function of the arrivals ledger: at epoch E the newly-complete set
    is ``complete(prior ∪ batch) − complete(prior)`` where ``prior`` is
    the ledger below epoch E — committed epochs never change, and a
    REPLAYED epoch overwrites exactly its own ledger and findings
    partitions with identical content, so a crash anywhere between the
    two writes and the checkpoint commit neither loses nor duplicates a
    submission's validation. A submission interrupted mid-arrival keeps
    its committed arrivals and completes in a later epoch (or a later
    ``availableNow`` drain — the ledger and checkpoint carry across
    runs).

    Parameters beyond the shared watcher surface:

    - ``declared_sheets``: the sheet FILE names whose arrival completes
      a submission (include ``submission.csv`` to have the CBC and the
      declared A4 counts parsed from it). Files with other names are
      ignored (consumed but neither ledgered nor validated).
    - ``cbc_map``: lab NAME → 2-digit id for submission.csv parsing
      (``parse_submission_metadata``); a dict or a zero-arg callable
      re-resolved per micro-batch (:func:`_resolve` — labs registered
      while the watcher runs are honored without restart; pair with
      ``sources.jdbc.read_cbc_map``). ``icd10_codes`` may likewise be a
      DataFrame or a callable.
    - ``status_cb(findings_df_or_None, epoch_id)``: fires every batch;
      ``None`` when no submission completed (arrival-only batch).
    - ``complete_cb({submission_id: ValidationResult}, epoch_id)``:
      fires only on batches where submissions completed successfully —
      the hook for the quality gate / notification / jobs-table
      bookkeeping, with the full result (``column_findings`` included
      — the P10 header findings are NOT part of the findings sink,
      same as the batch CLI where they feed the quality gate, so
      ``expected_columns`` is observable only here). Completion
      reporting must come from this callback, not from counting
      findings rows: a fully CLEAN submission completes with an empty
      findings frame.
    - ``failed_cb({submission_id: "ExcType: message"}, epoch_id)``:
      fires when a completing submission's VALIDATION ITSELF failed.

    **Per-submission error isolation** (the reference's "Moving onto
    Next Submitted File" loop, nci-seronet-data-validator.py:70,
    109-111): a poisoned submission — unreadable sheet, a column name
    the rulebook cannot render, malformed metadata — must not fail the
    micro-batch, because a failed batch replays the same input and
    fails identically forever, wedging every LATER submission behind
    it. Each group compile is isolated; a failure is recorded
    DURABLY as one findings row (``CSV_Sheet_Name='__submission__'``,
    ``Row_Index=ROW_VALIDATION_FAILURE``,
    ``Column_Name='__validation_failure__'``, the exception in
    ``Error_Message``) in the same epoch-keyed sink, and reported via
    ``failed_cb``. A group that fails retries its members as groups of
    one first, so only the genuinely poisoned member is recorded as
    failed. Replay semantics: if the epoch crashes before its
    checkpoint commit, the replay RETRIES the compile (a transient
    failure heals; a deterministic one re-records the identical row);
    after the commit the submission counts as handled — re-land it
    under a new submission directory to revalidate, exactly like
    re-submitting to the reference pipeline.

    100 TB posture: per-batch driver work is O(files in batch) ledger
    rows plus compiles for the NEWLY COMPLETE submissions, grouped by
    schema (order-sensitive header signature, probed driver-side). Each
    group, a group of one included, goes through ONE compiled plan with
    ONE multi-file scan per sheet (``orchestrate.validate_batched_results``
    + pretagged ``read_sheet_csv_tagged`` — the CLI --batched machinery),
    so a burst of thousands of same-shape submissions completing in one
    epoch costs O(distinct schemas) driver builds, not O(N). Distinct
    groups compile on a bounded thread pool.
    Arrival state is driver-resident and incremental: the full ledger
    (one metadata row per file ever arrived) is read ONCE per query run,
    then each batch adds only its own rows — a resident watcher's
    per-batch cost never grows with its history.
    """
    import os
    import re

    from nci_seronet_proc_data_validator_spark.errors import union_findings
    from nci_seronet_proc_data_validator_spark.plans.advisor import (
        warn_nonsplittable_csv)

    declared = frozenset(declared_sheets)
    if not declared:
        raise ValueError("declared_sheets must name at least one sheet")
    arrivals_dir = os.path.join(output_dir, "arrivals")
    findings_dir = os.path.join(output_dir, "findings")
    warn_nonsplittable_csv(root_dir)

    # binaryFile's schema is fixed by the source, but streaming sources
    # demand it explicitly (no schema inference on streams)
    src_schema = T.StructType([
        T.StructField("path", T.StringType(), False),
        T.StructField("modificationTime", T.TimestampType(), False),
        T.StructField("length", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True)])
    reader = (spark.readStream.format("binaryFile")
              .schema(src_schema)
              .option("pathGlobFilter", "*.csv"))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               int(max_files_per_trigger))
    raw = reader.load(os.path.join(root_dir, "*"))

    ledger_schema = "submission_id string, sheet string, path string"
    # Driver-resident arrival state, initialized ONCE per query run from
    # the committed ledger and updated incrementally per batch: without
    # it every batch re-reads the whole ledger — O(total files ever) per
    # batch, quadratic over a resident watcher's lifetime. The init
    # filters to epochs BELOW the first observed epoch id, so a crashed
    # epoch's own (overwritten-on-replay) ledger partition can never
    # leak into `complete_before` and suppress its re-validation.
    state: dict = {"have": None}

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        # One row per FILE — metadata-scale by construction (the source
        # emits file-level rows; content is never projected).
        paths = [re.sub(r"^file:/+", "/", r["path"])
                 for r in batch_df.select("path").collect()]
        rows = []
        for pth in paths:
            sheet = os.path.basename(pth)
            if sheet in declared:
                rows.append(
                    (os.path.basename(os.path.dirname(pth)), sheet, pth))
        from nci_seronet_proc_data_validator_spark.errors import (
            local_rows_df)
        adf = local_rows_df(sess, rows, ledger_schema)
        (adf.withColumn("epoch", F.lit(epoch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("epoch").parquet(arrivals_dir))

        if state["have"] is None:
            from pyspark.errors import AnalysisException
            have: dict[str, dict[str, str]] = {}
            try:
                prior = (sess.read.parquet(arrivals_dir)
                         .filter(F.col("epoch") < epoch_id).collect())
            except AnalysisException:   # first epoch ever: no ledger yet
                # narrowed on purpose: a transient IO failure reading a
                # ledger that EXISTS must fail the batch (Spark retries)
                # rather than silently treat history as empty — that
                # would strand partially-arrived submissions forever
                # (the file source never re-emits their sheets)
                prior = []
            for r in prior:
                have.setdefault(r["submission_id"],
                                {})[r["sheet"]] = r["path"]
            state["have"] = have
        have = state["have"]
        complete_before = {s for s, m in have.items()
                           if declared <= set(m)}
        for sub, sheet, pth in rows:
            have.setdefault(sub, {})[sheet] = pth
        complete_now = sorted(
            s for s, m in have.items()
            if declared <= set(m) and s not in complete_before)

        findings = None
        results: dict = {}
        if complete_now:
            from concurrent.futures import ThreadPoolExecutor

            from nci_seronet_proc_data_validator_spark.orchestrate import (
                SUB_COL,
                validate_batched_results,
            )
            from nci_seronet_proc_data_validator_spark.sources.readers \
                import csv_header, read_sheet_csv, read_sheet_csv_tagged
            from nci_seronet_proc_data_validator_spark.submission import (
                SKIP_VALIDATION,
                parse_submission_metadata,
                parse_submission_metadata_local,
            )
            cbc = {str(k): str(v)
                   for k, v in (_resolve(cbc_map) or {}).items()}
            icd = _resolve(icd10_codes)

            # headers probed driver-side ONCE per file (the grouping
            # signature and the explicit-schema reads below share this
            # cache — re-probing would double the open+parse of every
            # sheet header per epoch, the cost the probe exists to cut)
            hdr_cache = {pth: csv_header(pth)
                         for sub in complete_now
                         for pth in have[sub].values()}

            def _kwargs_for(sub: str) -> dict:
                # Sheet values are the probed COLUMN LISTS: the compile
                # reads rows through the pretagged scans below and the
                # tail only ever reads names (P10), so a burst pays zero
                # per-submission DataFrame construction (measured 26 s
                # of py4j plan building at a 96-submission burst). A
                # probe-refused header reads through Spark instead.
                # Metadata is parsed driver-side too
                # (parse_submission_metadata_local) — the DataFrame
                # parse is one small Spark job per submission.
                sheets = {}
                for name, pth in sorted(have[sub].items()):
                    cols = hdr_cache[pth]
                    sheets[name] = (list(cols) if cols is not None
                                    else read_sheet_csv(sess, pth))
                if "submission.csv" in sheets:
                    meta = parse_submission_metadata_local(
                        have[sub]["submission.csv"], cbc)
                    if meta is None:       # probe-refused: Spark parse
                        sub_df = sheets["submission.csv"]
                        if isinstance(sub_df, list):
                            sub_df = read_sheet_csv(
                                sess, have[sub]["submission.csv"],
                                columns=sub_df)
                        meta = parse_submission_metadata(sub_df, cbc)
                else:
                    meta = {"cbc_id": "0",
                            "declared_participants": None,
                            "declared_biospecimens": None}
                return dict(
                    sheets=sheets, cbc_id=str(meta["cbc_id"]),
                    declared_participants=meta.get("declared_participants"),
                    declared_biospecimens=meta.get("declared_biospecimens"),
                    icd10_codes=icd,
                    expected_columns=expected_columns,
                    **(bind_kwargs or {}))

            failures: dict[str, str] = {}

            def _compile(members: list) -> tuple[dict, list]:
                """One schema group through the one submission compiler:
                ONE plan, ONE multi-file scan per sheet. Returns the
                members' results and the group's combined findings
                frame (sink the WHOLE batch frame, not N re-union
                slices of the same checkpoint — N slices execute as
                N x its partitions in one job)."""
                import warnings
                try:
                    subs_kw = {s: _kwargs_for(s) for s in members}
                    names = [n for n in subs_kw[members[0]]["sheets"]
                             if n not in SKIP_VALIDATION]
                    # probed header -> explicit schema: the group key
                    # guarantees every member shares it, and without it
                    # the multi-file scan runs a header-inference job
                    # reading EVERY member file (one 96-task job per
                    # sheet at a 96-submission burst, r14)
                    pretagged = {
                        n: read_sheet_csv_tagged(
                            sess, {s: have[s][n] for s in members},
                            SUB_COL,
                            columns=hdr_cache[have[members[0]][n]])
                        for n in names}
                    combined: list = []
                    results_ = validate_batched_results(
                        sess, subs_kw, pretagged=pretagged,
                        combined_out=combined)
                    return results_, combined
                except Exception as exc:
                    # Per-submission error isolation — the reference's
                    # "Moving onto Next Submitted File" loop
                    # (nci-seronet-data-validator.py:70,109-111). A
                    # raise here would fail the micro-batch, which
                    # replays the same grouping and fails identically
                    # forever — a permanent wedge blocking every LATER
                    # submission. A group retries its members as groups
                    # of one, which isolates WHICH member is at fault;
                    # a failed group of one is recorded (durably, as
                    # one finding row below) and the drain moves on.
                    if len(members) > 1:
                        warnings.warn(
                            f"completion-group compile failed ({exc}); "
                            f"falling back to per-submission groups of "
                            f"one for {members}")
                        results_, frames = {}, []
                        for s in members:
                            r, f = _compile([s])
                            results_.update(r)
                            frames.extend(f)
                        return results_, frames
                    sub = members[0]
                    failures[sub] = f"{type(exc).__name__}: " \
                                    f"{str(exc)[:300]}"
                    warnings.warn(f"validation FAILED for submission "
                                  f"{sub}: {failures[sub]}; moving on")
                    return {}, []

            # Group completing submissions by order-sensitive header
            # signature (probe driver-side, no Spark). A probe-refused
            # header (None) keys on its path, which never merges
            # distinct schemas. Distinct groups overlap their driver
            # builds on a bounded pool — validate_concurrent's model,
            # width 4 (the measured GIL ceiling for plan builds,
            # BENCH_NOTES r11).
            groups: dict = {}
            for sub in complete_now:
                key = tuple(
                    (name, tuple(cols) if (cols := hdr_cache[pth])
                     is not None else ("?", pth))
                    for name, pth in sorted(have[sub].items())
                    if name not in SKIP_VALIDATION)
                groups.setdefault(key, []).append(sub)
            members_list = list(groups.values())
            if len(members_list) == 1:
                compiled = [_compile(members_list[0])]
            else:
                with ThreadPoolExecutor(
                        max_workers=min(4, len(members_list)),
                        thread_name_prefix="watch-complete") as pool:
                    compiled = list(pool.map(_compile, members_list))
            parts: list = []
            for res, frames in compiled:
                results.update(res)
                parts.extend(frames)
            if failures:
                # durable failure record: one row per failed submission
                # in the SAME findings sink (the reference's jobs-table
                # "File_Error" twin) — replay-idempotent like every
                # other row of the epoch partition
                from nci_seronet_proc_data_validator_spark.errors import (
                    FINDING_SCHEMA, ROW_VALIDATION_FAILURE, local_rows_df)
                fail_schema = T.StructType(
                    list(FINDING_SCHEMA.fields)
                    + [T.StructField("__submission_id",
                                     T.StringType(), False)])
                parts.append(local_rows_df(
                    sess,
                    [("Error", "__submission__",
                      ROW_VALIDATION_FAILURE, "__validation_failure__",
                      None, msg, sub)
                     for sub, msg in sorted(failures.items())],
                    fail_schema))
            from nci_seronet_proc_data_validator_spark.errors import (
                FINDING_COLUMNS)
            findings = union_findings(parts).select(
                *FINDING_COLUMNS, "__submission_id")
            _epoch_sink(findings, epoch_id, findings_dir)
            if complete_cb is not None and results:
                complete_cb(results, epoch_id)
            if failures and failed_cb is not None:
                failed_cb(dict(failures), epoch_id)
        if status_cb is not None:
            status_cb(findings, epoch_id)

    return (raw.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def hourly_rollup_stream(events: DataFrame,
                         watermark: str = "2 hours") -> DataFrame:
    """Watermarked event-time windowed aggregation over the events stream.

    Late rows beyond the watermark are dropped and finalized windows emit
    exactly once (append mode) — state is bounded by watermark horizon ×
    event_type cardinality, the property that keeps this runnable forever
    at scale.
    """
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                 .cast("double").alias("total_value"))
            .select(F.col("w.start").alias("hour"), "event_type", "n",
                    "total_value"))


def enrich_stream(events: DataFrame, dim: DataFrame,
                  key: str = "user_id") -> DataFrame:
    """Stream-static enrichment: left-join the (unbounded) event stream
    against a bounded dimension table, broadcast side pinned.

    No watermark and no state store involved — the static side is
    re-broadcast per micro-batch (picking up dim-table updates between
    batches), and the stream side never shuffles. This is the streaming
    twin of the batch enrichment joins in ``operators/joins``.
    """
    return events.join(F.broadcast(dim), key, "left")


def interval_join_stream(anchors: DataFrame, points: DataFrame,
                         window_minutes: int = 15,
                         watermark: str = "1 hour") -> DataFrame:
    """Stream-stream interval join: match each anchor event with every
    same-user event inside ±``window_minutes`` of it — the streaming twin
    of ``operators/interval.interval_join``.

    Both sides carry watermarks and the join condition bounds event time
    relative to anchor time, so Spark can size the join state to
    (watermark horizon + window) and evict finalized rows — the invariant
    that lets this run forever. Without the time-range condition the state
    store would grow without bound.
    """
    a = anchors.select(F.col("event_id").alias("anchor_id"),
                       F.col("user_id").alias("a_user"),
                       F.col("ts").alias("a_ts")
                       ).withWatermark("a_ts", watermark)
    p = points.withWatermark("ts", watermark)
    cond = (
        (F.col("a_user") == F.col("user_id"))
        & (F.col("ts") >= F.col("a_ts")
           - F.expr(f"INTERVAL {window_minutes} MINUTES"))
        & (F.col("ts") <= F.col("a_ts")
           + F.expr(f"INTERVAL {window_minutes} MINUTES")))
    return a.join(p, cond)


def dedup_stream(docs: DataFrame, ts_col: str = "ts",
                 text_col: str = "text",
                 watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup: drop re-arrivals of the same content hash
    within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keys state on the content hash and
    evicts entries once the watermark passes — bounded state (horizon x
    distinct-hash arrival rate), the property a 100 TB ingest stream needs;
    an unbounded ``dropDuplicates`` would grow state forever. The batch
    twin is the exact-dedup groupBy (``q_dedup_exact``).
    """
    return (docs
            .withWatermark(ts_col, watermark)
            .withColumn("content_hash", F.md5(F.col(text_col)))
            .dropDuplicatesWithinWatermark(["content_hash"]))

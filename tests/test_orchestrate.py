"""Concurrent multi-submission orchestration (orchestrate.py): >=3
submissions validated concurrently in ONE session produce findings
identical to the serial loop (the reference's processing model,
nci-seronet-data-validator.py:69), with per-submission error isolation."""

import datetime

import pytest

from nci_seronet_proc_data_validator_spark.orchestrate import (
    validate_concurrent)
from nci_seronet_proc_data_validator_spark.sources import read_sheet_csv
from nci_seronet_proc_data_validator_spark.submission import (
    SubmissionValidator)

TODAY = datetime.date(2026, 1, 1)


def _submission_csvs(i: int) -> dict[str, str]:
    """Three sheets per submission, with submission-specific planted
    errors so cross-contamination between concurrent runs would show."""
    return {
        "demographic.csv": (
            "Research_Participant_ID,Age,Race\n"
            f"14_00000{i},30,White\n"
            f"14_10000{i},9{i}9,Race_{i}\n"),      # range + vocab, unique per i
        "biospecimen.csv": (
            "Research_Participant_ID,Biospecimen_ID,Biospecimen_Type\n"
            f"14_00000{i},14_00000{i}_001,PBMC\n"
            f"14_90000{i},14_90000{i}_001,Serum\n"),  # cross-sheet orphan
    }


def _load(spark, tmp_path, i: int) -> dict:
    d = tmp_path / f"sub{i}"
    d.mkdir()
    sheets = {}
    for name, content in _submission_csvs(i).items():
        (d / name).write_text(content)
        sheets[name] = read_sheet_csv(spark, str(d / name))
    return {"sheets": sheets, "cbc_id": "14", "today": TODAY}


def _finding_set(findings):
    return sorted(
        (r["Message_Type"], r["CSV_Sheet_Name"], r["Row_Index"],
         r["Column_Name"], r["Column_Value"], r["Error_Message"])
        for r in findings.collect())


def test_concurrent_matches_serial(spark, tmp_path):
    subs = {f"sub{i}": _load(spark, tmp_path, i) for i in range(3)}

    serial = {sid: _finding_set(
        SubmissionValidator(spark, **kw).validate().findings)
        for sid, kw in subs.items()}
    # every submission has its own planted findings, and they differ
    assert all(len(v) > 0 for v in serial.values())
    assert len({tuple(v) for v in serial.values()}) == 3

    out = validate_concurrent(spark, subs, max_parallel=3)
    assert set(out) == set(subs)
    for sid, oc in out.items():
        assert oc.error is None, (sid, oc.error)
        assert _finding_set(oc.result.findings) == serial[sid], sid
        assert oc.materialized["errors"] > 0
        assert oc.seconds > 0


def test_concurrent_isolates_failures(spark, tmp_path):
    good = _load(spark, tmp_path, 7)
    bad = {"sheets": {"demographic.csv": None}, "cbc_id": "14",
           "today": TODAY}    # None sheet -> raises inside the worker
    out = validate_concurrent(spark, {"ok": good, "broken": bad},
                              max_parallel=2)
    assert out["broken"].error is not None
    assert out["broken"].result is None
    assert out["ok"].error is None
    assert out["ok"].materialized["errors"] > 0


def test_scheduler_pool_set_during_and_cleared_after(spark, tmp_path):
    """The worker's finally clears the pool tag — later jobs on the SAME
    thread must not inherit a submission's FAIR pool. Local properties
    are per-thread (pinned mode), so the clear is only observable on the
    thread that set it: drive the worker body (_run_one) directly on
    THIS thread, assert the pool is tagged while the submission's jobs
    run (inside the materialize hook) and cleared afterwards."""
    from nci_seronet_proc_data_validator_spark.orchestrate import (
        _default_materialize, _run_one)
    sc = spark.sparkContext
    seen = {}

    def materialize(res):
        seen["during"] = sc.getLocalProperty("spark.scheduler.pool")
        return _default_materialize(res)

    oc = _run_one(spark, "s0", _load(spark, tmp_path, 0), materialize)
    assert oc.error is None
    assert seen["during"] == "submission-s0"
    assert sc.getLocalProperty("spark.scheduler.pool") in (None, "")
    # the clear also runs on the error path
    oc2 = _run_one(spark, "bad", {"sheets": {"demographic.csv": None},
                                  "cbc_id": "14"}, materialize)
    assert oc2.error is not None
    assert sc.getLocalProperty("spark.scheduler.pool") in (None, "")


def test_concurrent_job_status_upserts_one_db(spark, tmp_path):
    """Orchestration + S11: concurrent submissions upserting their job
    rows into ONE jobs table (per-thread connections, the reference's
    shared MySQL model). Requires the COMPOSITE key
    (orig_file_id, file_name) — the default per-submission file_name key
    would let same-named sheets from different submissions clobber each
    other (that is what this test caught when first written)."""
    import sqlite3
    from nci_seronet_proc_data_validator_spark.sinks.reports import (
        job_status_rows, upsert_job_status)

    db = str(tmp_path / "jobs.db")
    conn = sqlite3.connect(db)
    conn.execute(
        "CREATE TABLE table_data_validator ("
        "orig_file_id TEXT, file_name TEXT, data_validation_status TEXT, "
        "batch_validation_status TEXT, n_errors INTEGER, n_warnings INTEGER, "
        "data_validation_date TEXT)")
    conn.commit()
    conn.close()

    def factory():
        return sqlite3.connect(db, timeout=30)

    def materialize_for(sub_id):
        def materialize(res):
            upsert_job_status(
                job_status_rows(res.findings, sub_id, f"day-{sub_id}"),
                factory, key=["orig_file_id", "file_name"])
            return sub_id
        return materialize

    subs = {f"sub{i}": _load(spark, tmp_path, i) for i in range(3)}
    # per-submission materialize: close over the id
    from nci_seronet_proc_data_validator_spark.orchestrate import _run_one
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = {sid: pool.submit(_run_one, spark, sid, kw,
                                 materialize_for(sid))
                for sid, kw in subs.items()}
        outs = {sid: f.result() for sid, f in futs.items()}
    assert all(oc.error is None for oc in outs.values())

    conn = sqlite3.connect(db)
    rows = conn.execute(
        "SELECT orig_file_id, file_name, count(*) FROM table_data_validator "
        "GROUP BY 1, 2").fetchall()
    conn.close()
    # each submission contributed its two sheets, exactly once each
    assert sorted({r[0] for r in rows}) == ["sub0", "sub1", "sub2"]
    assert all(r[2] == 1 for r in rows)
    assert len(rows) == 6


def test_two_watchers_drain_concurrently(spark, tmp_path):
    """Streaming + concurrency: two validate_stream watchers (different
    sheets, checkpoints, outputs) started in one session drain their
    backlogs concurrently — Structured Streaming queries are already
    session-concurrent; this pins that the watcher's epoch-keyed sink
    and per-query checkpoints do not interfere."""
    import os

    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.streaming import (
        validate_stream)

    cols = ["Research_Participant_ID", "Age", "Race"]
    qs = []
    outs = []
    for w in range(2):
        in_dir, cp, out = (str(tmp_path / f"{d}{w}")
                           for d in ("in", "cp", "out"))
        os.makedirs(in_dir)
        with open(os.path.join(in_dir, "demographic.csv"), "w") as f:
            f.write("Research_Participant_ID,Age,Race\n"
                    f"14_00000{w},999,Martian_{w}\n")
        qs.append(validate_stream(spark, in_dir, cp, "demographic.csv",
                                  cols, "14", out))
        outs.append(out)
    for q in qs:
        q.awaitTermination(120)
        assert not q.isActive
    for w, out in enumerate(outs):
        vals = {r["Column_Value"]
                for r in spark.read.parquet(out).collect()}
        assert f"Martian_{w}" in vals and f"Martian_{1-w}" not in vals


def test_cli_empty_dir_isolated_in_multi_mode(spark, tmp_path, monkeypatch,
                                              capsys):
    """r11 (ADVICE): one submission dir with no CSVs must not abort the
    whole multi-submission run — it records its own failure (rc=1) and
    the remaining submissions still validate (per-submission isolation,
    same model as validate_concurrent's error capture)."""
    import sys

    sys.path.insert(0, "tools")
    try:
        import run_submission as rs
    finally:
        sys.path.pop(0)
    good = tmp_path / "good"
    good.mkdir()
    for name, content in _submission_csvs(1).items():
        (good / name).write_text(content)
    empty = tmp_path / "empty"
    empty.mkdir()
    monkeypatch.setattr(sys, "argv",
                        ["run_submission.py", str(good), str(empty)])
    rc = rs.main()
    out = capsys.readouterr().out
    assert rc == 1                       # empty dir recorded as failure
    assert f"no CSV sheets found in {empty}" in out
    assert "loaded 2 sheets" in out      # the good one still validated
    # single-dir mode keeps the hard exit-2 contract
    monkeypatch.setattr(sys, "argv", ["run_submission.py", str(empty)])
    assert rs.main() == 2


def test_batched_matches_serial(spark, tmp_path):
    """r11: validate_batched compiles N same-shape submissions into ONE
    plan; each submission's tagged slice must equal the serial
    per-submission validate() findings exactly (IDs repeated across
    submissions are NOT duplicates; cross-sheet spines never match
    across submissions)."""
    from nci_seronet_proc_data_validator_spark.orchestrate import (
        SUB_COL, validate_batched)

    subs = {f"sub{i}": _load(spark, tmp_path, i) for i in range(3)}
    serial = {sid: _finding_set(
        SubmissionValidator(spark, **kw).validate().findings)
        for sid, kw in subs.items()}
    assert len({tuple(v) for v in serial.values()}) == 3

    batched = validate_batched(spark, subs).cache()
    got = {sid: _finding_set(batched.filter(
        batched[SUB_COL] == sid).drop(SUB_COL)) for sid in subs}
    assert got == serial

    # shared-parameter constraint is enforced (cbc_id may differ — v2 —
    # but today/fix_reference_bugs must not)
    bad = dict(subs)
    bad["sub9"] = {**subs["sub0"], "today": TODAY.replace(year=2027)}
    with pytest.raises(ValueError, match="shared"):
        validate_batched(spark, bad)
    # identical sheet-name sets are enforced (r12, ADVICE: the family
    # gates and enrichment parents are computed over the batch union)
    lopsided = dict(subs)
    lopsided["sub9"] = {**subs["sub0"],
                        "sheets": {"demographic.csv":
                                   subs["sub0"]["sheets"]["demographic.csv"]}}
    with pytest.raises(ValueError, match="sheet-name set"):
        validate_batched(spark, lopsided)


def test_batched_mixed_cbc_and_shared_ids(spark, tmp_path):
    """r12: batched v2 — per-submission cbc_id (the production shape:
    the reference resolves the CBC per submission,
    File_Submission_Object.py:82-87) and REAL cross-submission isolation:
    the SAME Research_Participant_ID/Biospecimen_ID planted in two
    submissions is NOT a duplicate, and an orphan in one submission is
    NOT healed by another submission's parent sheet. Each tagged slice
    must equal serial validate() byte-for-byte."""
    from nci_seronet_proc_data_validator_spark.orchestrate import (
        SUB_COL, validate_batched)

    def _mk(i, cbc, csvs):
        d = tmp_path / f"mix{i}"
        d.mkdir()
        sheets = {}
        for name, content in csvs.items():
            (d / name).write_text(content)
            sheets[name] = read_sheet_csv(spark, str(d / name))
        return {"sheets": sheets, "cbc_id": cbc, "today": TODAY}

    # SHARED ids across submissions: 14_000001 appears in both demos
    # and both biospecimen sheets; 14_000001_001 in both biospecimens.
    # subA's biospecimen has an orphan participant 14_777777 whose
    # demographic row exists ONLY in subB — serial flags it in A,
    # healing across the batch union would hide it.
    a = _mk("a", "14", {
        "demographic.csv": (
            "Research_Participant_ID,Age,Race\n"
            "14_000001,30,White\n"),
        "biospecimen.csv": (
            "Research_Participant_ID,Biospecimen_ID,Biospecimen_Type\n"
            "14_000001,14_000001_001,PBMC\n"
            "14_777777,14_777777_001,Serum\n"),
    })
    b = _mk("b", "41", {
        "demographic.csv": (
            "Research_Participant_ID,Age,Race\n"
            "14_000001,31,Asian\n"          # same ID, different lab (41)
            "14_777777,44,White\n"),        # the would-be healer
        "biospecimen.csv": (
            "Research_Participant_ID,Biospecimen_ID,Biospecimen_Type\n"
            "14_000001,14_000001_001,PBMC\n"),
    })
    subs = {"A": a, "B": b}
    serial = {sid: _finding_set(
        SubmissionValidator(spark, **kw).validate().findings)
        for sid, kw in subs.items()}

    # the fixtures exercise what they claim:
    # 1) serial produces NO dup-ID finding anywhere (each sheet's ids
    #    are unique within its submission)
    assert not any(r[2] == -3 for s in serial.values() for r in s)
    # 2) B's rows carry lab 41, so its C5 prefix findings expect 41
    assert any("Expecting CBC Code (41)" in r[5] for r in serial["B"])
    assert all("Expecting CBC Code (41)" not in r[5] for r in serial["A"])
    # 3) A's orphan is flagged by serial (present in bio, no demo row)
    assert any(r[3] == "Research_Participant_ID" and r[4] == "14_777777"
               for r in serial["A"])

    batched = validate_batched(spark, subs).cache()
    got = {sid: _finding_set(batched.filter(
        batched[SUB_COL] == sid).drop(SUB_COL)) for sid in subs}
    assert got == serial


def test_cli_batched_matches_serial(spark, tmp_path, monkeypatch, capsys):
    """r12: `--batched` CLI mode — 8 submissions in two schema groups
    (5 + 3), mixed CBC ids inside the big group (batched v2), routed
    through one compiled plan per group; findings parquet per
    submission must equal the default (serial) CLI run's byte-for-byte.
    """
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, "tools")
    try:
        import run_submission as rs
    finally:
        sys.path.pop(0)

    def _mkdir(name: str, csvs: dict[str, str]) -> str:
        d = tmp_path / name
        d.mkdir()
        for fname, content in csvs.items():
            (d / fname).write_text(content)
        return str(d)

    dirs = []
    for i in range(5):                      # group A: demo + biospecimen
        lab = "LabX" if i % 2 == 0 else "LabY"   # mixed CBCs in ONE group
        csvs = dict(_submission_csvs(i))
        csvs["submission.csv"] = f"key,{lab}\np,2\nb,2\n"
        dirs.append(_mkdir(f"ga{i}", csvs))
    for i in range(3):                      # group B: demographic only,
        dirs.append(_mkdir(f"gb{i}", {      # narrower column set
            "demographic.csv": ("Research_Participant_ID,Age\n"
                                f"14_20000{i},1{i}9\n"),
            "submission.csv": "key,LabX\np,1\nb,0\n"}))

    def _run(extra: list[str], out: str) -> int:
        monkeypatch.setattr(sys, "argv", [
            "run_submission.py", *dirs, "--out", str(tmp_path / out),
            "--cbc", "LabX=14", "--cbc", "LabY=41", *extra])
        return rs.main()

    # the fixture sheets don't carry the full expected-column catalog, so
    # the quality gate fails (rc=1) — what matters here is that BOTH
    # modes agree on the rc and on every submission's findings
    rc_serial = _run([], "serial_out")
    rc_batched = _run(["--batched"], "batched_out")
    assert rc_batched == rc_serial
    assert "2 schema group(s), sizes [5, 3]" in capsys.readouterr().out

    for d in dirs:
        base = d.rstrip("/").split("/")[-1]
        a = spark.read.parquet(
            str(tmp_path / "serial_out" / base / "findings.parquet"))
        b = spark.read.parquet(
            str(tmp_path / "batched_out" / base / "findings.parquet"))
        assert _finding_set(a) == _finding_set(b), base
        assert a.count() > 0, base          # every submission has findings
    # the mixed-CBC group really validated against per-submission labs
    ga1 = spark.read.parquet(
        str(tmp_path / "batched_out" / "ga1" / "findings.parquet"))
    assert ga1.filter(F.col("Error_Message").contains(
        "Expecting CBC Code (41)")).count() > 0


def test_batched_rejects_column_valued_checks(spark, tmp_path, monkeypatch):
    """r12 (ADVICE): a Column-valued CheckExpr (custom caller rule —
    supported by the serial path's DataFrame-compile fallback,
    submission.py) has no SQL text form; batched mode must refuse it
    with a clear ValueError instead of crashing inside render_spark_sql.
    """
    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark import orchestrate as orch
    from nci_seronet_proc_data_validator_spark.functions.checks import (
        CheckExpr)
    from nci_seronet_proc_data_validator_spark.plans import rulebook as rb
    from nci_seronet_proc_data_validator_spark.plans.rules import ColumnRules

    real_bind = rb.bind_sheet_rules_cached

    def bind_with_column_rule(sheet, columns, cbc_id, **kw):
        bound = real_bind(sheet, columns, cbc_id, **kw)
        import copy
        bound = copy.copy(bound)
        bound.column_rules = [*bound.column_rules, ColumnRules(
            "Age", [CheckExpr(F.col("Age") == "13", "unlucky age")])]
        return bound

    import nci_seronet_proc_data_validator_spark.orchestrate as orch_mod
    monkeypatch.setattr(
        "nci_seronet_proc_data_validator_spark.plans.rulebook."
        "bind_sheet_rules_cached", bind_with_column_rule)

    subs = {"s0": _load(spark, tmp_path, 0)}
    with pytest.raises(ValueError, match="SQL text"):
        orch.validate_batched(spark, subs)


def _prior_fallback(spark, i: int):
    """A DB fallback prior_clinical_test Merged_Table holding submission
    i's first participant only (the S5 JDBC read's shape)."""
    return spark.createDataFrame(
        [(f"14_00000{i}", "Positive")],
        "Research_Participant_ID string, SARS_CoV_2_PCR_Test_Result string")


def test_batched_db_merged_tables_match_batch_of_one(spark, tmp_path):
    """Per-submission db_merged_tables fallbacks ride the one compiler:
    in a batch of two, each member gets exactly the findings of its own
    batch of one, and those differ from a run without the fallback (so
    a compiler that ignored the fallback would fail here)."""
    from nci_seronet_proc_data_validator_spark.orchestrate import (
        validate_batched_results)

    subs = {}
    for i in range(2):
        kw = _load(spark, tmp_path, i)
        kw["db_merged_tables"] = {
            "prior_clinical_test.csv": _prior_fallback(spark, i)}
        subs[f"sub{i}"] = kw
    both = validate_batched_results(spark, subs)
    for sid, kw in subs.items():
        one = _finding_set(validate_batched_results(
            spark, {sid: kw})[sid].findings)
        plain = {k: v for k, v in kw.items() if k != "db_merged_tables"}
        assert one != _finding_set(
            SubmissionValidator(spark, **plain).validate().findings), sid
        assert _finding_set(both[sid].findings) == one, sid


def test_batched_rejects_mismatched_db_merged_tables(spark, tmp_path):
    """Fallback parents feed the batch-wide enrichment and cross-sheet
    gates, so every member must name the same fallback sheet set — the
    same rule as the sheet-name set — or the batch is refused."""
    from nci_seronet_proc_data_validator_spark.orchestrate import (
        validate_batched)

    sub = _load(spark, tmp_path, 0)
    bad = {**sub, "db_merged_tables": {
        "prior_clinical_test.csv": _prior_fallback(spark, 0)}}
    with pytest.raises(ValueError, match="db_merged_tables"):
        validate_batched(spark, {"a": bad, "b": sub})


def test_batched_pretagged_matches_serial(spark, tmp_path):
    """r12: the pretagged fast path — ONE multi-file scan per sheet name
    (read_sheet_csv_tagged) instead of N per-submission scans unioned —
    must produce findings byte-identical to serial validate() and to the
    per-submission batched path, mixed CBCs included."""
    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.orchestrate import (
        SUB_COL, validate_batched)
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        read_sheet_csv_tagged)

    subs = {}
    for i in range(3):
        kw = _load(spark, tmp_path, i)
        kw["cbc_id"] = "14" if i % 2 == 0 else "41"   # mixed CBCs
        subs[f"sub{i}"] = kw
    serial = {sid: _finding_set(
        SubmissionValidator(spark, **kw).validate().findings)
        for sid, kw in subs.items()}

    names = list(subs["sub0"]["sheets"])
    pretagged = {
        n: read_sheet_csv_tagged(
            spark, {sid: str(tmp_path / sid / n) for sid in subs},
            SUB_COL)
        for n in names}
    out = validate_batched(spark, subs, pretagged=pretagged).cache()
    got = {sid: _finding_set(out.filter(
        out[SUB_COL] == sid).drop(SUB_COL)) for sid in subs}
    assert got == serial
    # the scan shape is ONE datasource per sheet name (plus its tiny
    # bases self-join side) — not one scan node per submission
    for n, df in pretagged.items():
        p = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert p.count("FileScan csv") <= 2, (n, p[:500])


def test_batched_results_free_data_scale_caches(spark, tmp_path):
    """r13 review: validate_batched's per-sheet union persists are
    data-scale (N submissions' parsed CSVs); once validate_batched_results
    has materialized its eager checkpoint they have no consumer, and a
    resident watcher compiling bursts for the query's lifetime must not
    pin them until GC. The call must leave the cache manager EMPTY —
    the checkpointed findings live as RDD blocks outside it."""
    from nci_seronet_proc_data_validator_spark.orchestrate import (
        validate_batched_results)

    spark.catalog.clearCache()
    subs = {f"sub{i}": _load(spark, tmp_path, i) for i in range(3)}
    results = validate_batched_results(spark, subs)
    for sid, r in results.items():
        assert r.findings.count() > 0, sid
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()  # noqa: SLF001


def test_batched_result_contract(spark, tmp_path):
    """A batched result's summary aggregates the very frame ``findings``
    returns (the findings thunk is memoized, not rebuilt), and the
    ValidationResult parameters after ``summary`` are keyword-only, so
    a legacy positional ``cached`` fails loudly."""
    from nci_seronet_proc_data_validator_spark.orchestrate import (
        validate_batched_results)
    from nci_seronet_proc_data_validator_spark.submission import (
        ValidationResult)

    subs = {f"sub{i}": _load(spark, tmp_path, i) for i in range(2)}
    r = validate_batched_results(spark, subs)["sub0"]
    assert r._findings_thunk() is r.findings  # noqa: SLF001
    assert r.summary.count() > 0
    with pytest.raises(TypeError):
        ValidationResult(r.findings, None, None, None, r.findings)


def test_validate_stream_multi_mixed_cbc(spark, tmp_path):
    """r12: the multi-submission watcher — ONE streaming query draining
    files from per-submission directories with MIXED labs (subA cbc 14,
    subB cbc 41, subC unknown -> '0'), findings per submission equal to
    the batch compile with that submission's literal CBC, row_index
    citing each file's own CSV lines."""
    import os

    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.plans.rulebook import (
        bind_sheet_rules)
    from nci_seronet_proc_data_validator_spark.plans.rules import (
        compile_sheet_findings)
    from nci_seronet_proc_data_validator_spark.operators.typing import (
        with_typed_shadows)
    from nci_seronet_proc_data_validator_spark.streaming import (
        validate_stream_multi)

    cols = ["Research_Participant_ID", "Age", "Race"]
    root = tmp_path / "landing"
    csv = ("Research_Participant_ID,Age,Race\n"
           "14_000001,30,White\n"          # wrong CBC under 41/0
           "14_000002,999,Martian\n")      # range + vocab errors
    for sub in ("subA", "subB", "subC"):
        d = root / sub
        d.mkdir(parents=True)
        (d / "demographic.csv").write_text(csv)

    cbc_by_sub = {"subA": "14", "subB": "41"}   # subC unknown -> '0'
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    q = validate_stream_multi(
        spark, str(root / "*" / "demographic.csv"), cp,
        "demographic.csv", cols, cbc_by_sub, out)
    q.awaitTermination(180)
    assert not q.isActive

    got = spark.read.parquet(out)
    by_sub = {
        sub: sorted((r["Row_Index"], r["Column_Name"], r["Column_Value"],
                     r["Error_Message"])
                    for r in got.filter(
                        F.col("__submission_id") == sub).collect())
        for sub in ("subA", "subB", "subC")}
    # expected: the batch compile per submission with its literal CBC
    for sub, cbc in (("subA", "14"), ("subB", "41"), ("subC", "0")):
        from nci_seronet_proc_data_validator_spark.sources import (
            read_sheet_csv)
        df = read_sheet_csv(spark, str(root / sub / "demographic.csv"))
        df = with_typed_shadows(df, cols)
        df = df.withColumn("SARS_CoV_2_PCR_Test_Result", F.lit(""))
        bound = bind_sheet_rules("demographic.csv", cols, cbc)
        want = sorted(
            (r["Row_Index"], r["Column_Name"], r["Column_Value"],
             r["Error_Message"])
            for r in compile_sheet_findings(
                df, "demographic.csv", bound.column_rules).collect())
        assert by_sub[sub] == want, sub
    # the per-CBC messages really differ across the one stream
    msgs = {sub: {m for _, _, _, m in rows} for sub, rows in by_sub.items()}
    assert any("Expecting CBC Code (41)" in m for m in msgs["subB"])
    assert any("submission file is missing" in m for m in msgs["subC"])
    assert all("Expecting CBC Code" not in m for m in msgs["subA"])


def test_cli_run_watcher(spark, tmp_path, monkeypatch, capsys):
    """r12: the watcher CLI end-to-end — two labs' sheets landing under
    per-submission dirs, one availableNow drain; rc=0, per-submission
    counts printed, findings parquet written; a second invocation
    drains nothing new (the checkpoint carries the offset) and the
    output is unchanged."""
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, "tools")
    try:
        import run_watcher as rw
    finally:
        sys.path.pop(0)

    root = tmp_path / "landing"
    for sub, rows in (("labA", "14_000001,30,White\n14_000002,999,Zork\n"),
                      ("labB", "14_000003,31,Asian\n")):
        d = root / sub
        d.mkdir(parents=True)
        (d / "demographic.csv").write_text(
            "Research_Participant_ID,Age,Race\n" + rows)
    out, cp = str(tmp_path / "wout"), str(tmp_path / "wcp")
    argv = ["run_watcher.py", str(root), "--sheet", "demographic.csv",
            "--out", out, "--checkpoint", cp,
            "--cbc", "labA=14", "--cbc", "labB=41"]
    monkeypatch.setattr(sys, "argv", argv)
    assert rw.main() == 0
    text = capsys.readouterr().out
    assert "; findings under" in text

    got = spark.read.parquet(out)
    n1 = got.count()
    assert n1 > 0
    assert f"({n1} rows this run" in text      # summary covers THIS run
    # labB's rows (cbc 41) flag the 14_ prefix; labA's don't
    wrong = got.filter(F.col("Error_Message").contains(
        "Expecting CBC Code (41)"))
    assert wrong.count() > 0
    assert {r["__submission_id"] for r in wrong.collect()} == {"labB"}

    monkeypatch.setattr(sys, "argv", argv)     # second drain: no new files
    assert rw.main() == 0
    # r13 (ADVICE): the re-drain summary must NOT re-report the prior
    # drain's cumulative findings as this run's
    text2 = capsys.readouterr().out
    assert "no new files this run" in text2, text2
    assert spark.read.parquet(out).count() == n1

    # third drain: a NEW file lands; the summary counts only its epoch
    d = root / "labC"
    d.mkdir()
    (d / "demographic.csv").write_text(
        "Research_Participant_ID,Age,Race\n14_000009,932,White\n")
    monkeypatch.setattr(sys, "argv", argv)
    assert rw.main() == 0
    text3 = capsys.readouterr().out
    n3 = spark.read.parquet(out).count()
    assert n3 > n1
    assert f"({n3 - n1} rows this run" in text3, text3


def test_cli_batched_groups_by_column_order(spark, tmp_path, monkeypatch,
                                            capsys):
    """r13 (ADVICE high): two submissions with the SAME column set in a
    DIFFERENT header order must land in DIFFERENT schema groups — the
    pretagged group scan reads N files as ONE CSV source, which takes
    names from the first file and reads the rest positionally, so
    grouping them together would silently misalign values into the
    wrong columns. With the order-sensitive signature each becomes a
    singleton group and findings match serial exactly."""
    import sys

    sys.path.insert(0, "tools")
    try:
        import run_submission as rs
    finally:
        sys.path.pop(0)

    specs = {
        "oa": ("Research_Participant_ID,Age,Race\n"
               "14_000001,930,White\n"),          # Age out of range
        "ob": ("Research_Participant_ID,Race,Age\n"
               "14_000002,White,931\n")}          # same set, swapped order
    dirs = []
    for name, demo in specs.items():
        d = tmp_path / name
        d.mkdir()
        (d / "demographic.csv").write_text(demo)
        (d / "submission.csv").write_text("key,LabX\np,1\nb,0\n")
        dirs.append(str(d))

    def _run(extra: list[str], out: str) -> int:
        monkeypatch.setattr(sys, "argv", [
            "run_submission.py", *dirs, "--out", str(tmp_path / out),
            "--cbc", "LabX=14", *extra])
        return rs.main()

    rc_serial = _run([], "serial_out")
    out_serial = capsys.readouterr().out
    rc_batched = _run(["--batched"], "batched_out")
    out_batched = capsys.readouterr().out
    assert rc_batched == rc_serial
    assert "2 schema group(s), sizes [1, 1]" in out_batched, out_batched

    for d in dirs:
        base = d.rstrip("/").split("/")[-1]
        a = spark.read.parquet(
            str(tmp_path / "serial_out" / base / "findings.parquet"))
        b = spark.read.parquet(
            str(tmp_path / "batched_out" / base / "findings.parquet"))
        assert _finding_set(a) == _finding_set(b), base
        # the out-of-range Age was found under the right column — a
        # positional misread would have put '931'/'White' elsewhere
        assert any(r["Column_Name"] == "Age" and r["Column_Value"]
                   in ("930", "931") for r in b.collect()), base
    del out_serial


def test_validate_stream_multi_dynamic_cbc(spark, tmp_path):
    """r13 (verdict item 2): cbc_by_sub as a CALLABLE re-resolved per
    micro-batch — a lab registered BETWEEN micro-batches (from epoch 0's
    status_cb, which runs strictly before epoch 1 starts) is honored by
    later batches of the SAME query, no restart; still-unknown
    submissions stay '0'."""
    import os

    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.streaming import (
        validate_stream_multi)

    cols = ["Research_Participant_ID", "Age", "Race"]
    root = tmp_path / "landing"
    csv = ("Research_Participant_ID,Age,Race\n"
           "14_000001,30,White\n")
    t0 = 1_700_000_000
    for k, sub in enumerate(("subA", "subB")):
        d = root / sub
        d.mkdir(parents=True)
        p = d / "demographic.csv"
        p.write_text(csv)
        # mtime order pins subA to epoch 0, subB to epoch 1
        os.utime(p, (t0 + 10 * k, t0 + 10 * k))

    registry: dict[str, str] = {}

    def register_after_first_batch(_findings, epoch_id):
        if epoch_id == 0:
            registry["subB"] = "41"     # lab registered mid-query

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    q = validate_stream_multi(
        spark, str(root / "*" / "demographic.csv"), cp,
        "demographic.csv", cols, lambda: dict(registry), out,
        max_files_per_trigger=1,
        status_cb=register_after_first_batch)
    q.awaitTermination(300)
    assert not q.isActive

    got = spark.read.parquet(out)
    msgs = {
        sub: {r["Error_Message"] for r in got.filter(
            F.col("__submission_id") == sub).collect()}
        for sub in ("subA", "subB")}
    # epoch 0 ran before registration: subA validated under '0'
    assert any("submission file is missing" in m for m in msgs["subA"])
    # epoch 1 picked the registration up WITHOUT restart
    assert any("Expecting CBC Code (41)" in m for m in msgs["subB"])
    assert all("submission file is missing" not in m
               for m in msgs["subB"])


def test_cli_procs_shards_match_serial(spark, tmp_path, monkeypatch,
                                       capsys):
    """r13: --procs N shards schema groups across child PROCESSES (each
    its own JVM running --batched over its shard). Two schema groups x
    two submissions, 2 procs: the parent shards by driver-side header
    probe (no JVM), children write the standard per-submission subdirs,
    and merged findings are identical to the one-process serial run."""
    import subprocess
    import sys

    sys.path.insert(0, "tools")
    try:
        import run_submission as rs
    finally:
        sys.path.pop(0)

    dirs = []
    for name, header, row in (
            ("pa0", "Research_Participant_ID,Age,Race", "14_000001,930,White"),
            ("pa1", "Research_Participant_ID,Age,Race", "14_000002,931,White"),
            ("pb0", "Research_Participant_ID,Age", "14_000003,932"),
            ("pb1", "Research_Participant_ID,Age", "14_000004,933")):
        d = tmp_path / name
        d.mkdir()
        (d / "demographic.csv").write_text(f"{header}\n{row}\n")
        (d / "submission.csv").write_text("key,LabX\np,1\nb,0\n")
        dirs.append(str(d))

    # serial reference (in-process; same session)
    monkeypatch.setattr(sys, "argv", [
        "run_submission.py", *dirs, "--out", str(tmp_path / "serial_out"),
        "--cbc", "LabX=14"])
    rc_serial = rs.main()
    capsys.readouterr()

    # --procs 2: run the real CLI as a subprocess (children are
    # subprocesses anyway; the parent must not touch this session's JVM)
    proc = subprocess.run(
        [sys.executable, "tools/run_submission.py", *dirs,
         "--batched", "--procs", "2",
         "--out", str(tmp_path / "procs_out"), "--cbc", "LabX=14"],
        capture_output=True, text=True, timeout=600)
    assert f"over 2 process(es), shard sizes [2, 2]" in proc.stdout, \
        proc.stdout[-2000:] + proc.stderr[-2000:]
    assert proc.returncode == rc_serial, proc.stdout[-2000:]

    for d in dirs:
        base = d.rstrip("/").split("/")[-1]
        a = spark.read.parquet(
            str(tmp_path / "serial_out" / base / "findings.parquet"))
        b = spark.read.parquet(
            str(tmp_path / "procs_out" / base / "findings.parquet"))
        assert _finding_set(a) == _finding_set(b), base

"""Validate submission directories end-to-end — the engine's CLI face for
the reference's Lambda flow (nci-seronet-data-validator.py:33-117).

    python tools/run_submission.py SUBMISSION_DIR [SUBMISSION_DIR ...]
        [--out OUT_DIR] [--jobs N] [--batched] [--cbc NAME=ID ...]
        [--keep-reference-bugs]

Each SUBMISSION_DIR holds that submission's sheet CSVs (submission.csv,
demographic.csv, …). With one dir the flow matches the reference's
per-submission Lambda body; with several, ``--jobs N`` validates up to N
submissions CONCURRENTLY in one SparkSession on per-submission FAIR
scheduler pools (``orchestrate.validate_concurrent`` — the reference
loops serially, nci-seronet-data-validator.py:69; measured ~2.4-2.7x warm on 4
submissions, BENCH_NOTES r10/r11). Per-sheet error reports + findings
parquet land under OUT_DIR (per-submission subdirs in multi mode).

``--batched`` groups the submissions by schema signature (sheet-name
set + per-sheet column sets — CBC ids MAY differ, batched v2) and
compiles each same-shape group, a group of one included, through ONE
plan (``orchestrate.validate_batched_results``). Findings per
submission are identical to serial/concurrent mode — batched is the
driver-bound regime's shape
(thousands of tiny submissions, or a driver remote from the cluster):
its build cost is O(distinct schemas), not O(N submissions).
"""

from __future__ import annotations

import argparse
import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _load(spark, sub_dir: str, cbc_map: dict, fix_bugs: bool,
          icd10_codes, expected_columns):
    """Read one submission dir → (validator kwargs, metadata, sheets).
    ``icd10_codes`` / ``expected_columns`` are shared reference data,
    loaded ONCE by the caller (identical across submissions)."""
    from nci_seronet_proc_data_validator_spark.sources import read_sheet_csv
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        csv_header,
    )
    from nci_seronet_proc_data_validator_spark.submission import (
        parse_submission_metadata,
    )
    paths = sorted(glob.glob(os.path.join(sub_dir, "*.csv")))
    if not paths:
        return None, None, None
    # Header probed driver-side (csv_header) → explicit schema → ZERO
    # Spark jobs in the load phase (r12's measured 21 s at 24 subs was
    # entirely per-file header jobs); probe-refused files (dup headers,
    # gzip) fall back to the Spark header read per file.
    sheets = {os.path.basename(p):
              read_sheet_csv(spark, p, columns=csv_header(p))
              for p in paths}
    meta = {"cbc_id": "0", "declared_participants": None,
            "declared_biospecimens": None}
    if "submission.csv" in sheets:
        meta = parse_submission_metadata(sheets["submission.csv"], cbc_map)
    kwargs = dict(
        sheets=sheets, cbc_id=str(meta["cbc_id"]),
        declared_participants=meta.get("declared_participants"),
        declared_biospecimens=meta.get("declared_biospecimens"),
        icd10_codes=icd10_codes,
        expected_columns=expected_columns,
        fix_reference_bugs=fix_bugs)
    return kwargs, meta, sheets


def _out_names(dirs: list[str]) -> dict[str, str]:
    """Unique per-submission output subdir names: the basename, suffixed
    with an index on collision (two dirs named .../sub1 must not clobber
    each other's reports)."""
    names: dict[str, str] = {}
    seen: dict[str, int] = {}
    for d in dirs:
        base = os.path.basename(d.rstrip("/")) or "submission"
        n = seen.get(base, 0)
        seen[base] = n + 1
        names[d] = base if n == 0 else f"{base}_{n}"
    return names


def _report(result, sheets, meta, sub_dir: str, out: str | None) -> bool:
    """Quality gate + summary + notification + sinks for one result.
    Returns the quality-gate verdict."""
    from nci_seronet_proc_data_validator_spark.sinks import (
        build_notification_payload,
        write_error_reports,
        write_findings_parquet,
    )
    from nci_seronet_proc_data_validator_spark.submission import (
        check_submission_quality,
    )
    n_col_errors = result.column_findings.count()
    ok, why = check_submission_quality(sheets, n_col_errors,
                                       str(meta["cbc_id"]))
    if not ok:
        print(f"QUALITY GATE FAILED: {why}")
        result.column_findings.show(50, truncate=False)
        # the reference still notifies and records job status on gate
        # failure (nci:76-80) — we print and stop before per-sheet reports

    summary_rows = [r.asDict() for r in result.summary.collect()]
    result.summary.show(50, truncate=False)
    payload = build_notification_payload(
        summary_rows, os.path.basename(sub_dir.rstrip("/")))
    print(payload["blocks"][0]["text"]["text"])

    if out:
        write_error_reports(result.findings,
                            os.path.join(out, "Data_Validation_Results"))
        write_findings_parquet(result.findings,
                               os.path.join(out, "findings.parquet"))
        print(f"reports written under {out}")
    return ok


def _validate_batched_groups(spark, subs: dict) -> dict:
    """--batched mode: group submissions by schema signature (sheet-name
    set + per-sheet column sets + today/flags — CBC ids may differ,
    batched v2), compile each group, a group of one included, through
    ONE plan (``validate_batched_results``). Per-GROUP error isolation:
    a malformed submission fails its group's outcomes, the other groups
    still validate.
    Returns ``ConcurrentOutcome`` per submission dir (``seconds`` is the
    GROUP wall time for batched members — the plan is shared)."""
    import time

    from nci_seronet_proc_data_validator_spark.orchestrate import (
        SUB_COL,
        ConcurrentOutcome,
        _default_materialize,
        validate_batched_results,
    )
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        read_sheet_csv_tagged,
    )
    from nci_seronet_proc_data_validator_spark.submission import (
        SKIP_VALIDATION,
    )

    def sig(kw) -> tuple:
        # Column ORDER is part of the signature (tuple(df.columns), not
        # a sorted set): the pretagged group scan below reads N files as
        # ONE CSV source, which takes column names from the first file
        # and reads the rest POSITIONALLY (enforceSchema) — two
        # submissions with the same column set in a different header
        # order must land in different groups, or their values would
        # silently misalign into the wrong columns. Sheet names stay
        # sorted (dict order is load order, not schema).
        return (tuple(sorted(
                    (n, tuple(c for c in df.columns
                              if c != "row_index"))
                    for n, df in kw["sheets"].items()
                    if n not in SKIP_VALIDATION)),
                kw.get("today"), kw.get("fix_reference_bugs", True))

    groups: dict[tuple, list] = {}
    for d, kw in subs.items():
        groups.setdefault(sig(kw), []).append(d)
    sizes = sorted((len(m) for m in groups.values()), reverse=True)
    print(f"batched: {len(groups)} schema group(s), sizes {sizes}")

    def _run_group(members: list) -> dict:
        out: dict = {}
        t0 = time.time()
        try:
            # One multi-file scan per sheet name across the group (the
            # 100 TB scan shape: N submissions = N files of one
            # datasource), instead of N per-submission single-file
            # scans unioned. Same-schema membership is guaranteed by
            # the signature grouping above; submission.csv et al stay
            # per-submission (metadata, not validated).
            names = [n for n in subs[members[0]]["sheets"]
                     if n not in SKIP_VALIDATION]
            pretagged = {
                n: read_sheet_csv_tagged(
                    spark, {d: os.path.join(d, n) for d in members},
                    SUB_COL)
                for n in names}
            results = validate_batched_results(
                spark, {d: subs[d] for d in members},
                pretagged=pretagged)
            # materialize (error/warning counts) overlapped: independent
            # per-submission actions over the already-cached findings
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(max_workers=min(8, len(members)),
                                    thread_name_prefix="batched-mat") as tp:
                mats = dict(zip(members, tp.map(
                    lambda d: _default_materialize(results[d]), members)))
            for d in members:
                out[d] = ConcurrentOutcome(
                    result=results[d], materialized=mats[d],
                    seconds=time.time() - t0)
        except Exception as exc:  # noqa: BLE001 — isolate per group
            for d in members:
                out[d] = ConcurrentOutcome(result=None, materialized=None,
                                           seconds=time.time() - t0,
                                           error=exc)
        return out

    # Schema groups are independent (separate plans, separate outcomes) —
    # overlap them on a bounded pool so a small group hides under a big
    # one instead of queueing behind it. Width 4: the per-group work is
    # driver-build-heavy and the GIL serializes builds past ~4 threads
    # (BENCH_NOTES r11 width ceiling).
    group_lists = list(groups.values())
    out: dict = {}
    if len(group_lists) == 1:
        out.update(_run_group(group_lists[0]))
    else:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=min(4, len(group_lists)),
                                thread_name_prefix="batched-group") as gp:
            for part in gp.map(_run_group, group_lists):
                out.update(part)
    return out


def _run_procs(args) -> int:
    """--procs N: shard schema groups across N child PROCESSES, each its
    own JVM running ``--batched`` over its shard.

    Why processes: a batched run's residual serial cost is driver-side
    Python (plan build, py4j round-trips) under ONE GIL; BENCH_NOTES r12
    measured two processes composing with batching (24 tiny subs:
    89.9 -> 63.3 s). Sharding is by SCHEMA GROUP so each child still
    batches maximally: headers are probed driver-side (``csv_header`` —
    zero Spark, no JVM in the parent) and submissions grouped by an
    order-sensitive (sheet, header-columns) signature. This PARENT
    signature is a sharding heuristic, not the child's grouping
    authority: the child recomputes its own signature from the real
    Spark frames (including today/fix-bug flags; probe-refused files
    key here on their path, which conservatively never merges distinct
    schemas), so a parent/child disagreement costs only plan sharing,
    never correctness. Groups are dealt largest-first round-robin onto
    the shards; children write the same per-submission subdirs under
    --out they would in one process, and findings are identical because
    group membership, not process placement, determines results.
    """
    import subprocess

    from nci_seronet_proc_data_validator_spark.sources.readers import (
        csv_header,
    )
    from nci_seronet_proc_data_validator_spark.submission import (
        SKIP_VALIDATION,
    )

    names = [os.path.basename(d.rstrip("/")) or "submission"
             for d in args.submission_dirs]
    if len(set(names)) != len(names):
        print("--procs needs unique submission dir basenames (children "
              "resolve output subdirs independently; a collision would "
              "clobber reports across shards) — rename the duplicates "
              "or run with --procs 1")
        return 2

    def sig(d: str) -> tuple:
        out = []
        for p_ in sorted(glob.glob(os.path.join(d, "*.csv"))):
            name = os.path.basename(p_)
            if name in SKIP_VALIDATION:
                continue       # metadata sheets don't shape the plan
            cols = csv_header(p_)
            out.append((name,
                        tuple(cols) if cols is not None else ("?", p_)))
        return tuple(out)

    groups: dict[tuple, list] = {}
    for d in args.submission_dirs:
        groups.setdefault(sig(d), []).append(d)
    # Deal groups largest-first onto the least-loaded shard, SPLITTING a
    # group when it exceeds the ideal shard size: splitting is safe (the
    # batched plan keys every join/agg on the submission tag, so any
    # partition of a group yields per-submission findings identical to
    # serial — pinned by test_batched_matches_serial) and without it one
    # dominant schema would collapse --procs N to one busy process.
    n = len(args.submission_dirs)
    n_shards = min(args.procs, n)
    ideal = -(-n // n_shards)          # ceil
    shards: list[list] = [[] for _ in range(n_shards)]
    for members in sorted(groups.values(), key=len, reverse=True):
        for i in range(0, len(members), ideal):
            min(shards, key=len).extend(members[i:i + ideal])
    shards = [s for s in shards if s]
    print(f"procs: {len(groups)} schema group(s) over {len(shards)} "
          f"process(es), shard sizes {[len(s) for s in shards]}")

    base = [sys.executable, os.path.abspath(__file__)]
    passthrough = []
    if args.out:
        passthrough += ["--out", args.out]
    if args.jobs != 1:
        passthrough += ["--jobs", str(args.jobs)]
    for kv in args.cbc:
        passthrough += ["--cbc", kv]
    if args.keep_reference_bugs:
        passthrough += ["--keep-reference-bugs"]
    procs = [subprocess.Popen(base + shard + ["--batched"] + passthrough)
             for shard in shards]
    return max(p_.wait() for p_ in procs)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("submission_dirs", nargs="+")
    ap.add_argument("--out", default=None)
    ap.add_argument("--jobs", type=int, default=1,
                    help="max submissions validated concurrently "
                         "(FAIR pool per submission)")
    ap.add_argument("--batched", action="store_true",
                    help="compile same-schema submissions through ONE "
                         "plan (O(distinct schemas) driver build)")
    ap.add_argument("--procs", type=int, default=1,
                    help="shard schema groups across N driver PROCESSES "
                         "(each its own JVM, each running --batched over "
                         "its shard) — the GIL escape for driver-bound "
                         "many-tiny-submission batches (BENCH_NOTES r12: "
                         "processes compose with batching). Requires "
                         "--batched; findings identical to one process.")
    ap.add_argument("--cbc", action="append", default=[],
                    metavar="NAME=ID", help="CBC name → 2-digit id mapping")
    ap.add_argument("--keep-reference-bugs", action="store_true",
                    help="reproduce the reference's buggy behaviors instead "
                         "of the documented fixes")
    args = ap.parse_args()

    if args.procs > 1:
        if not args.batched:
            print("--procs requires --batched (it shards schema groups)")
            return 2
        if len(args.submission_dirs) > 1:
            return _run_procs(args)
        # single dir: nothing to shard — fall through to one process

    from nci_seronet_proc_data_validator_spark.session import get_spark
    from nci_seronet_proc_data_validator_spark.submission import (
        SubmissionValidator,
    )

    spark = get_spark("run_submission")
    cbc_map = dict(kv.split("=", 1) for kv in args.cbc)

    from nci_seronet_proc_data_validator_spark.sources.catalog import (
        static_expected_columns,
    )
    from nci_seronet_proc_data_validator_spark.sources.icd10 import (
        load_icd10_codes,
    )
    icd10 = load_icd10_codes(spark)
    expected = static_expected_columns()

    # Load phase: each sheet read costs a small header job, so with
    # --jobs N the per-submission loads overlap on a thread pool (same
    # isolation model as the validate phase: results gathered, then
    # reported in input order).
    from concurrent.futures import ThreadPoolExecutor

    def _load_one(d: str):
        return _load(spark, d, cbc_map, not args.keep_reference_bugs,
                     icd10, expected)

    load_width = args.jobs if args.jobs > 1 else (8 if args.batched else 1)
    if len(args.submission_dirs) > 1 and load_width > 1:
        # --batched implies parallel loads even at --jobs 1: the load
        # phase is per-submission header jobs (measured 21 s serial at
        # 24 submissions) and batched mode has no per-submission
        # validate phase to hide it in.
        with ThreadPoolExecutor(max_workers=load_width) as pool:
            results = dict(zip(args.submission_dirs,
                               pool.map(_load_one, args.submission_dirs)))
    else:
        results = {d: _load_one(d) for d in args.submission_dirs}

    loaded: dict[str, tuple] = {}
    load_failed: list[str] = []
    for d in args.submission_dirs:
        kwargs, meta, sheets = results[d]
        if kwargs is None:
            print(f"no CSV sheets found in {d}")
            if len(args.submission_dirs) == 1:
                return 2
            # Per-submission isolation: an empty dir records its own
            # failure and the batch continues — same model as
            # orchestrate.validate_concurrent's per-submission error
            # capture, extended to the load phase.
            load_failed.append(d)
            continue
        print(f"{d}: loaded {len(sheets)} sheets: "
              f"{', '.join(sorted(sheets))}")
        if meta.get("cbc_id") not in (None, "0"):
            print(f"{d}: submission metadata: {meta}")
        loaded[d] = (kwargs, meta, sheets)

    if not loaded:
        return 2
    rc = 1 if load_failed else 0
    if len(args.submission_dirs) == 1:
        # single-dir invocation keeps the reference's flat layout
        # (reports under --out directly); a multi-dir batch that shrank
        # to one survivor still uses per-submission subdirs below
        ((d, (kwargs, meta, sheets)),) = loaded.items()
        result = SubmissionValidator(spark, **kwargs).validate()
        ok = _report(result, sheets, meta, d, args.out)
        return rc if ok else 1

    # Multi-submission: validate concurrently, then report serially (the
    # reports are driver-side prints; the heavy lifting overlapped in
    # the workers' materialize hooks).
    from nci_seronet_proc_data_validator_spark.orchestrate import (
        validate_concurrent,
    )
    subs = {d: kwargs for d, (kwargs, _m, _s) in loaded.items()}
    if args.batched:
        out = _validate_batched_groups(spark, subs)
    else:
        out = validate_concurrent(spark, subs,
                                  max_parallel=max(1, args.jobs))
    out_names = _out_names(list(loaded))
    for d, (kwargs, meta, sheets) in loaded.items():
        oc = out[d]
        print(f"\n=== {d} ({oc.seconds:.1f}s) ===")
        if oc.error is not None:
            print(f"FAILED: {oc.error}")
            rc = 1
            continue
        sub_out = (os.path.join(args.out, out_names[d])
                   if args.out else None)
        if not _report(oc.result, sheets, meta, d, sub_out):
            rc = 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main())

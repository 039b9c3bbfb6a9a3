"""Benchmark of the SeroNet validator: one command runs one workload.

    python3 perfbench/run.py --workload rulebook_sf0.01 --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root. The run generates its inputs from the seed,
sets up a local Spark session sized to the CPUs it may use, warms up, then
runs operations one after another (closed loop, one client) until
``--seconds`` have passed, checks the outputs and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. It exits 1 when an
output check fails and 2 when the repository's package is missing.

``--trace 0`` reports the end-to-end metrics from untraced operations.
``--trace 1`` wraps the package's modules (``spans.py``), alternates
untraced and traced operations, and reports the per-layer metrics of the
traced ones plus the tracing overhead between the two.

Everything a run writes stays under ``.perfbench/`` in the repository
root: the inputs and Spark's scratch space (deleted at the end), and a
record of the run (``result.json``, ``spans.jsonl``, ``stderr.log``).
See ``perfbench/README.md`` for the metrics and why each workload exists.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "nci_seronet_proc_data_validator_spark"
WORKLOAD_NAMES = ("rulebook_sf0.01", "burst_96")
FALLBACK_LINE = b"Whole-stage codegen disabled"


def process_start() -> float:
    """Wall-clock time this process was started (set-up counts from it)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def vm_kb(pid: str | int = "self", field: str = "VmHWM") -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def live_memory_mb(spark) -> float:
    """Memory the run still holds after the timed window: the Python
    process's resident set, the JVM heap's live set (as the last full
    collection left it) and the JVM's non-heap in use. Unlike the resident
    peak, this does not depend on when the JVM chose to grow its heap."""
    import gc

    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    pools = [p for p in mf.getMemoryPoolMXBeans()
             if p.getType().toString() == "Heap memory"
             and p.getCollectionUsage() is not None]
    # A collection queues unreachable RDDs and broadcasts for Spark's
    # ContextCleaner, which frees their blocks asynchronously (and py4j
    # releases JVM objects only after Python collects their proxies):
    # collect on both sides a few times and keep the smallest heap. Each
    # pool's usage is read as its last collection left it, so threads
    # that allocate right after the collection do not count.
    heaps = []
    for _ in range(3):
        gc.collect()
        jvm.System.gc()
        heaps.append(sum(p.getCollectionUsage().getUsed() for p in pools))
        time.sleep(0.5)
    heap = min(heaps) / 2**20
    non_heap = mf.getMemoryMXBean().getNonHeapMemoryUsage().getUsed() / 2**20
    py = vm_kb("self", "VmRSS") / 1024
    print(f"memory: python {py:.1f} MB, heap {heap:.1f} MB, "
          f"non-heap {non_heap:.1f} MB", file=sys.stderr)
    return py + heap + non_heap


def environment(spark) -> dict:
    def git_sha():
        try:
            return subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            return None

    digest = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    digest.update(name.encode() + f.read())
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    # the source sources.icd10.load_icd10_codes falls back through
    try:
        import icd10
        icd_source = f"icd10 package ({len(icd10.codes)} codes)"
    except (ImportError, AttributeError, TypeError):
        from nci_seronet_proc_data_validator_spark.sources.icd10 import (
            DEMO_CODES,
        )
        icd_source = f"built-in demo codes ({len(DEMO_CODES)})"
    return {"nproc": len(os.sched_getaffinity(0)),
            "ram_gb": round(mem_kb / 2**20, 1),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version"),
            "python": sys.version.split()[0],
            "git_sha": git_sha(),
            "source_sha256": digest.hexdigest(),
            "icd10_source": icd_source}


def pin_environment(run_dir: str, work: str, cpus: int) -> None:
    """Spark settings fixed before anything imports pyspark."""
    conf = os.path.join(run_dir, "conf")
    os.makedirs(conf)
    os.makedirs(work)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_CONF_DIR"] = conf
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("spark.ui.showConsoleProgress false\n"
                # the traced run reads every job and stage of an operation
                # back from the status store: keep them all
                "spark.ui.retainedJobs 100000\n"
                "spark.ui.retainedStages 100000\n"
                f"spark.sql.warehouse.dir {work}/warehouse\n"
                "spark.driver.extraJavaOptions -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}\n")


def count_fallbacks(log_path: str, start: int, end: int) -> int:
    with open(log_path, "rb") as f:
        f.seek(start)
        return f.read(max(0, end - start)).count(FALLBACK_LINE)


def layer_metrics(ctx, rec: dict, spark_side: dict, progress) -> dict:
    """Per-layer metrics of one traced operation."""
    from spans import gap_seconds, self_times, subtree_ids

    spans = ctx.tracer.op_spans(rec["k"])
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)

    def n(pred) -> int:
        return sum(1 for s in spans if pred(s))

    cached = n(lambda s: s.name == "bind_sheet_rules_cached")
    misses = n(lambda s: s.name == "bind_sheet_rules" and s.parent in by_id
               and by_id[s.parent].name == "bind_sheet_rules_cached")
    jobs, stages = spark_side["jobs"], spark_side["stages"]
    sink_ids = subtree_ids(spans, lambda s: s.layer == "sinks")
    sink_jobs = sum(1 for j in jobs if j["group"]
                    and j["group"].startswith("perfbench-")
                    and int(j["group"].split("-")[1]) in sink_ids)
    phases = spark_side["phases"]
    task_s = sum(s["run_s"] for s in stages)
    cpu_s = sum(s["cpu_s"] for s in stages)
    dur = {}
    for p in progress or []:
        d = p.durationMs if hasattr(p, "durationMs") else p["durationMs"]
        for key, v in d.items():
            dur[key] = dur.get(key, 0) + v / 1e3
    wall = rec["wall"]
    return {
        "sources.calls": n(lambda s: s.layer == "sources"),
        "sources.build_s": selfs.get("sources", 0.0),
        "sources.files": ctx.inputs["files"],
        "sources.input_bytes": ctx.inputs["bytes"],
        "plans.build_s": selfs.get("plans", 0.0),
        "plans.bind_calls": cached + n(lambda s: s.name == "bind_sheet_rules")
        - misses,
        "plans.bind_hit_ratio": (cached - misses) / cached if cached else 0.0,
        "operators.build_s": selfs.get("operators", 0.0),
        "operators.calls": n(lambda s: s.layer == "operators"),
        "errors.build_s": selfs.get("errors", 0.0),
        "errors.local_frames": n(lambda s: s.name == "local_rows_df"),
        "submission.build_s": selfs.get("submission", 0.0),
        "submission.calls": n(lambda s: s.layer == "submission"),
        "orchestrate.batched_s": selfs.get("orchestrate", 0.0),
        "orchestrate.groups": n(lambda s: s.name ==
                                "validate_batched_results"),
        "driver_queries.build_s": selfs.get("driver_queries", 0.0),
        "streaming.self_s": selfs.get("streaming", 0.0),
        "streaming.add_batch_s": dur.get("addBatch", 0.0),
        "streaming.get_batch_s": dur.get("getBatch", 0.0),
        "streaming.commit_s": dur.get("commitOffsets", 0.0),
        "streaming.epochs": len(progress or []),
        "sinks.write_s": selfs.get("sinks", 0.0),
        "sinks.jobs": sink_jobs,
        "sinks.files_written": rec["written"][0],
        "sinks.bytes_written": rec["written"][1],
        "sinks.findings_executions": len(phases) / rec["subs"],
        "spark.analysis_s": spark_side["analysis_rules_s"],
        "spark.optimization_s": sum(p.get("optimization", 0.0)
                                    for _f, p in phases),
        "spark.planning_s": sum(p.get("planning", 0.0) for _f, p in phases),
        "spark.executions": len(phases),
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.task_s": task_s,
        "spark.cpu_s": cpu_s,
        "spark.cpu_ratio": cpu_s / task_s if task_s else 0.0,
        "spark.gc_s": sum(s["gc_s"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "spark.spill_bytes": sum(s["spill"] for s in stages),
        "spark.driver_gap_s": gap_seconds(rec["t0"], rec["t1"], jobs),
        "spark.codegen_fallbacks": rec["fallbacks"],
        "trace.unattributed_s": selfs.get("bench", 0.0),
        "trace.coverage": 1.0 - selfs.get("bench", 0.0) / wall,
        "trace.spans": len(spans),
    }


def bench(run) -> dict:
    """Start Spark, measure, and stop Spark whatever happens."""
    sys.path.insert(0, ROOT)
    from nci_seronet_proc_data_validator_spark.session import get_spark

    t = time.time()
    spark = get_spark("perfbench", cpus=run.cpus)
    run.session_start_s = time.time() - t
    jvm_proc = spark.sparkContext._gateway.proc
    try:
        return measure(run, spark, jvm_proc)
    finally:
        _stop(spark, jvm_proc)


def measure(run, spark, jvm_proc) -> dict:
    from nci_seronet_proc_data_validator_spark.sources.catalog import (
        static_expected_columns,
    )
    from nci_seronet_proc_data_validator_spark.sources.icd10 import (
        load_icd10_codes,
    )
    from spans import SparkCounters, Tracer
    from workloads import WORKLOADS

    args, session_start_s = run.args, run.session_start_s
    ctx = SimpleNamespace(spark=spark, seed=args.seed, work=run.work,
                          cpus=run.cpus, tracer=Tracer(spark.sparkContext))
    t = time.time()
    ctx.icd10 = load_icd10_codes(spark)
    ctx.expected_columns = static_expected_columns()
    ref_data_s = time.time() - t

    wl = WORKLOADS[args.workload](ctx)
    ctx.inputs = wl.prepare()
    for i in range(wl.warmups):
        wl.warmup(i)
    counters = None
    if args.trace:
        ctx.tracer.install()
        counters = SparkCounters(spark)
    setup_s = time.time() - run.t_start

    ops, failed, errors = [], 0, []
    t_window = time.time()
    k = 0
    # In a traced run, even operations are traced and odd ones untraced,
    # so the run holds its own A/B of the tracing overhead (at least two).
    # The traced one goes first: it then sits where an untraced run's
    # first operation sits on the warm-up curve, and trace.op_s compares
    # with latency_p50_s across runs.
    while (time.time() - t_window < args.seconds
           or (args.trace and k < 2)):
        traced = bool(args.trace and k % 2 == 0)
        if counters is not None and traced:
            counters.begin()
        ctx.tracer.op, ctx.tracer.active = k, traced
        log_start = os.fstat(2).st_size
        rec = {"k": k, "traced": traced, "t0": time.time()}
        try:
            with ctx.tracer.span("op", "bench"):
                rec.update(wl.op(k))
            rec["t1"] = time.time()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            rec["t1"] = time.time()
            failed += 1
            errors.append(f"op {k}: {type(exc).__name__}: {exc}"[:500])
            traceback.print_exc()
        ctx.tracer.active = False
        rec["wall"] = rec["t1"] - rec["t0"]
        rec["fallbacks"] = count_fallbacks(run.log_path, log_start,
                                           os.fstat(2).st_size)
        spark_side = counters.end() if traced else None
        if "subs" in rec:
            rec["written"] = wl.after(k)
            if traced:
                rec["layers"] = layer_metrics(
                    ctx, rec, spark_side, getattr(wl, "progress", None))
        ops.append(rec)
        k += 1
    peak_rss_mb = (vm_kb() + vm_kb(jvm_proc.pid)) / 1024
    live_mb = live_memory_mb(spark)
    fixture_s = (wl.fixture_sample() if args.trace
                 and hasattr(wl, "fixture_sample") else 0.0)
    correct, detail = wl.check()
    correct = correct and not failed
    env = environment(spark)
    if counters is not None:
        counters.close()

    done = [o for o in ops if "subs" in o]
    plain = [o for o in done if not o["traced"]]
    if args.trace:
        traced = [o for o in done if o["traced"]]
        keys = traced[0]["layers"] if traced else {}
        metrics = {key: statistics.median(o["layers"][key] for o in traced)
                   for key in keys}
        metrics["session.start_s"] = session_start_s
        metrics["session.ref_data_s"] = ref_data_s
        metrics["plans.fixture_s"] = fixture_s
        metrics["memory.peak_rss_mb"] = peak_rss_mb
        metrics["trace.op_s"] = statistics.median(o["wall"] for o in traced)
        metrics["trace.overhead_frac"] = (
            statistics.median(o["wall"] for o in traced)
            / statistics.median(o["wall"] for o in plain) - 1.0
            if traced and plain else 0.0)
        ctx.tracer.dump(os.path.join(run.run_dir, "spans.jsonl"))
    else:
        busy = sum(o["wall"] for o in plain) or float("nan")
        metrics = {
            "latency_p50_s": statistics.median(o["wall"] for o in plain)
            if plain else float("nan"),
            "subs_per_s": sum(o["subs"] for o in plain) / busy,
            "rows_per_s": sum(o["rows"] for o in plain) / busy,
            "live_mb": live_mb,
            "setup_s": setup_s,
        }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": bool(correct), "attempted": len(ops), "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]),
                                "unit": m["unit"]}
                    for m in declared}}
    with open(os.path.join(run.run_dir, "result.json"), "w") as f:
        json.dump({"args": vars(args), "env": env, "inputs": ctx.inputs,
                   "check": detail, "errors": errors,
                   "setup": {"session_start_s": session_start_s,
                             "ref_data_s": ref_data_s, "setup_s": setup_s},
                   "ops": ops,
                   "all_metrics": metrics, "result": result},
                  f, indent=1, default=str)
    print(f"check: {detail}", file=sys.stderr)
    return result


def _proc_stat(pid) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        st = _proc_stat(d) if d.isdigit() else None
        if st:
            children.setdefault(int(st[1]), []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _stop(spark, jvm_proc) -> None:
    """Stop Spark, then wait for the JVM and every process it started
    (Python workers) to end; kill what is still there after a minute."""
    procs = _descendants(os.getpid())
    spark.stop()
    try:
        jvm_proc.stdin.close()
        jvm_proc.wait(timeout=60)
    except (OSError, subprocess.TimeoutExpired):
        jvm_proc.kill()
        jvm_proc.wait()
    deadline = time.time() + 60
    for pid in procs:
        while (st := _proc_stat(pid)) and st[0] != "Z":
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = process_start()
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"{PKG}/ not found next to perfbench/: run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench",
                           f"{args.workload}-s{args.seed}-t{args.trace}"
                           f"-{os.getpid()}")
    run = SimpleNamespace(args=args, t_start=t_start, run_dir=run_dir,
                          work=os.path.join(run_dir, "work"),
                          log_path=os.path.join(run_dir, "stderr.log"),
                          cpus=len(os.sched_getaffinity(0)))
    pin_environment(run_dir, run.work, run.cpus)
    # Spark's JVM inherits fds 1 and 2: send both to the run's log (the
    # codegen-fallback counter reads it) and keep the originals for the
    # result line and errors.
    sys.stdout.flush()
    sys.stderr.flush()
    out_fd, err_fd = os.dup(1), os.dup(2)
    log_fd = os.open(run.log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    os.chdir(run.work)
    result = None
    try:
        result = bench(run)
    except Exception:  # noqa: BLE001 — reported below, then exit 1
        traceback.print_exc()
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(out_fd, 1)
        os.dup2(err_fd, 2)
        os.chdir(ROOT)
        shutil.rmtree(run.work, ignore_errors=True)
    if result is None:
        with open(run.log_path, "rb") as f:
            tail = f.read()[-4000:].decode(errors="replace")
        print(tail, file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

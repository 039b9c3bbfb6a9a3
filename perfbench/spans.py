"""Outside-in tracing: spans around calls into the package's modules, and
Spark's own counters read from its status stores.

Nothing here edits the package. ``Tracer.install`` wraps the public
functions listed in ``TARGETS`` and rebinds every module namespace that
holds the original object: ``submission.py`` binds its imports at module
load, ``driver_queries`` and the watcher import inside function bodies,
and the subpackage ``__init__`` files re-export — each of those names must
point at the wrapper, or calls through it escape the trace.

A span records its name, layer, thread, start, end, parent and the
operation (request) it belongs to. Spans stay in memory and are written
out once, at the end of the run. A span's self time is its duration minus
the union of its children's intervals; a layer's self time is the sum
over its spans. Spans opened on a thread with no open span of its own
(the streaming micro-batch callback, the batched tail's worker pool) take
as parent the most recently opened span still open on any thread.

Spans of layers that can submit Spark jobs also set the Spark job group
to the span id, so every job found in the status store can be charged to
the innermost such span that was open when it was submitted.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import re
import sys
import threading
import time

PKG = "nci_seronet_proc_data_validator_spark"

# layer -> (module, attribute) pairs; "Class.method" wraps a method.
TARGETS: dict[str, list[tuple[str, str]]] = {
    "sources": [
        ("sources.readers", "csv_header"),
        ("sources.readers", "read_sheet_csv"),
        ("sources.readers", "read_sheet_csv_tagged"),
        ("sources.readers", "read_table"),
        ("sources.readers", "cleanup_sheet"),
        ("sources.readers", "cleanup_columns"),
    ],
    "plans": [
        ("plans.rulebook", "bind_sheet_rules_cached"),
        ("plans.rulebook", "bind_sheet_rules"),
        ("plans.rules", "sheet_findings_sql"),
        ("plans.rules", "sheet_findings_sql_cached"),
        ("plans.rules", "dup_id_findings_sql"),
        ("plans.rules", "compile_sheet_findings"),
        ("plans.fixture", "fixture_sheet_df"),
        ("plans.fixture", "icd10_dict_df"),
        ("plans.sql_oracle", "rulebook_bound_sheets"),
    ],
    "operators": [
        ("operators.typing", "with_typed_shadows"),
        ("operators.joins", "merge_tables"),
        ("operators.joins", "merged_table"),
        ("operators.joins", "icd10_flag_join"),
        ("operators.joins", "presence_spine"),
        ("operators.joins", "participant_cross_findings"),
        ("operators.joins", "biospecimen_cross_findings"),
        ("operators.joins", "participant_cross_sql"),
        ("operators.joins", "biospecimen_cross_sql"),
    ],
    "errors": [
        ("errors", "union_findings"),
        ("errors", "dedup_findings"),
        ("errors", "findings_summary"),
        ("errors", "local_rows_df"),
        ("errors", "empty_findings"),
    ],
    "submission": [
        ("submission", "SubmissionValidator.validate"),
        ("submission", "parse_submission_metadata"),
        ("submission", "parse_submission_metadata_local"),
        ("submission", "check_submission_quality"),
    ],
    "orchestrate": [
        ("orchestrate", "validate_batched_results"),
        ("orchestrate", "validate_batched"),
    ],
    "driver_queries": [
        ("driver_queries", "q_rulebook_full"),
    ],
    "streaming": [
        ("streaming.watcher", "validate_stream_submissions"),
    ],
    "sinks": [
        ("streaming.watcher", "_epoch_sink"),
        ("sinks.reports", "write_error_reports"),
        ("sinks.reports", "write_findings_parquet"),
    ],
}

# Layers whose calls may run Spark actions: their spans set the job group.
JOB_LAYERS = {"submission", "orchestrate", "driver_queries", "streaming",
              "sinks"}


class Span:
    __slots__ = ("id", "name", "layer", "thread", "parent", "op", "start",
                 "end")

    def __init__(self, sid, name, layer, thread, parent, op, start):
        self.id, self.name, self.layer = sid, name, layer
        self.thread, self.parent, self.op = thread, parent, op
        self.start, self.end = start, None

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "layer": self.layer,
                "thread": self.thread, "parent": self.parent, "op": self.op,
                "start": self.start, "end": self.end}


class Tracer:
    """Span recorder. ``active`` switches recording on and off between
    operations, so one process can interleave traced and untraced
    operations of the same workload."""

    def __init__(self, sc=None):
        self.sc = sc
        self.active = False
        self.op = None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._open: dict[int, Span] = {}
        self._lock = threading.Lock()

    # -- recording ---------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, layer: str) -> Span:
        st = self._stack()
        with self._lock:
            if st:
                parent = st[-1].id
            elif self._open:
                parent = max(self._open)
            else:
                parent = None
            sp = Span(next(self._ids), name, layer,
                      threading.get_ident(), parent, self.op, time.time())
            self._open[sp.id] = sp
            self.spans.append(sp)
        st.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        with self._lock:
            self._open.pop(sp.id, None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """One span, when recording; spans of ``JOB_LAYERS`` also set the
        Spark job group to the span id and restore the caller's after."""
        if not self.active:
            yield None
            return
        sp = self.open(name, layer)
        grouped = self.sc is not None and layer in JOB_LAYERS
        if grouped:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(f"perfbench-{sp.id}", name)
        try:
            yield sp
        finally:
            if grouped:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.close(sp)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> int:
        """Wrap every target and rebind every package namespace holding
        the original; returns the number of bindings replaced."""
        import importlib

        for layer, targets in TARGETS.items():
            for mod, _attr in targets:
                importlib.import_module(f"{PKG}.{mod}")
        for sub in ("sources", "sinks", "plans", "streaming", "operators"):
            importlib.import_module(f"{PKG}.{sub}")
        mods = [m for n, m in list(sys.modules.items())
                if m is not None and (n == PKG or n.startswith(PKG + "."))]
        replaced = 0
        for layer, targets in TARGETS.items():
            for mod, attr in targets:
                m = sys.modules[f"{PKG}.{mod}"]
                if "." in attr:
                    cls_name, meth = attr.split(".")
                    cls = getattr(m, cls_name)
                    orig = cls.__dict__[meth]
                    setattr(cls, meth, self._wrap(orig, attr, layer))
                    replaced += 1
                    continue
                orig = getattr(m, attr)
                wrapped = self._wrap(orig, attr, layer)
                for other in mods:
                    for k, v in list(vars(other).items()):
                        if v is orig:
                            setattr(other, k, wrapped)
                            replaced += 1
        return replaced

    # -- analysis ----------------------------------------------------
    def op_spans(self, op) -> list[Span]:
        return [s for s in self.spans if s.op == op and s.end is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the union of its
    children's intervals clipped to it."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        cover = _union((max(c.start, s.start), min(c.end, s.end))
                       for c in kids.get(s.id, ())
                       if c.end > s.start and c.start < s.end)
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start - cover)
    return out


def subtree_ids(spans: list[Span], pred) -> set[int]:
    """Ids of the spans matching ``pred`` and all their descendants."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s.id)
    todo = [s.id for s in spans if pred(s)]
    seen: set[int] = set()
    while todo:
        i = todo.pop()
        if i not in seen:
            seen.add(i)
            todo.extend(kids.get(i, ()))
    return seen


# -- Spark-side counters ---------------------------------------------
class SparkCounters:
    """Reads jobs and stages from the app status store, Catalyst phases
    from a query-execution listener, and rule times from the global
    rule-executor meter. Works with the UI disabled."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.phases: list[tuple[str, dict]] = []
        self._lock = threading.Lock()
        gw = self.sc._gateway
        ensure_callback_server_started(gw)
        self._empty = gw.new_array(gw.jvm.double, 0)
        self._listener = _PhaseListener(self)
        spark._jsparkSession.listenerManager().register(self._listener)
        self.last_job = self.last_stage = -1

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(
            self._listener)

    def _max_job(self) -> int:
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _max_stage(self) -> int:
        st = self.store.stageList(None, False, False, self._empty, None)
        return st.apply(0).stageId() if st.size() else -1

    def begin(self) -> None:
        """Start counting: everything submitted before now is excluded."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.last_job = self._max_job()
        self.last_stage = self._max_stage()
        self.jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor \
            .resetMetrics()
        with self._lock:
            self.phases = []

    def end(self) -> dict:
        """Counters for everything submitted since ``begin``."""
        # the listener bus is asynchronous: let it drain
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = []
        lst = self.store.jobsList(None)
        for i in range(lst.size()):
            j = lst.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                break
            sub, done = j.submissionTime(), j.completionTime()
            group = j.jobGroup()
            jobs.append({
                "id": jid,
                "submit": sub.get().getTime() / 1e3 if sub.isDefined()
                else None,
                "complete": done.get().getTime() / 1e3 if done.isDefined()
                else None,
                "group": group.get() if group.isDefined() else None})
        stages = []
        lst = self.store.stageList(None, False, False, self._empty, None)
        for i in range(lst.size()):
            s = lst.apply(i)
            if s.stageId() <= self.last_stage:
                break
            stages.append({
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled()})
        with self._lock:
            phases = list(self.phases)
        rules = self.jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor \
            .dumpTimeSpent()
        return {"jobs": jobs, "stages": stages, "phases": phases,
                "analysis_rules_s": analysis_rule_seconds(rules)}


class _PhaseListener:
    """A ``QueryExecutionListener`` implemented through the py4j callback
    server: records each executed query's Catalyst phase durations."""

    def __init__(self, owner: SparkCounters):
        self.owner = owner

    def onSuccess(self, func_name, qe, duration_ns):
        self._record(func_name, qe)

    def onFailure(self, func_name, qe, exc):
        self._record(func_name, qe)

    def _record(self, func_name, qe):
        it = qe.tracker().phases().iterator()
        d = {}
        while it.hasNext():
            kv = it.next()
            d[kv._1()] = kv._2().durationMs() / 1e3
        with self.owner._lock:
            self.owner.phases.append((func_name, d))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


_RULE_LINE = re.compile(r"^(\S+)\s+(\d+)\s*/\s*(\d+)\s+\d+\s*/\s*\d+\s*$")


def analysis_rule_seconds(dump: str) -> float:
    """Analyzer rule time from ``RuleExecutor.dumpTimeSpent()``.

    Query-execution trackers only see the analysis of queries that run;
    DataFrame construction and ``spark.sql`` analyze eagerly on plans
    that never execute themselves. The global rule meter sees all of it;
    analyzer rules are the ones in an ``analysis`` package or named
    ``Resolve*``/``*Analysis``."""
    total_ns = 0
    for line in dump.splitlines():
        m = _RULE_LINE.match(line.strip())
        if not m:
            continue
        rule = m.group(1)
        leaf = rule.rsplit(".", 1)[-1].split("$")[-1]
        if (".analysis." in rule or leaf.startswith("Resolve")
                or leaf.endswith("Analysis")):
            total_ns += int(m.group(3))
    return total_ns / 1e9


def gap_seconds(t0: float, t1: float, jobs: list[dict]) -> float:
    """Wall time in [t0, t1] with no Spark job running."""
    busy = _union((max(j["submit"], t0), min(j["complete"] or t1, t1))
                  for j in jobs if j["submit"] is not None
                  and j["submit"] < t1 and (j["complete"] or t1) > t0)
    return max(0.0, (t1 - t0) - busy)

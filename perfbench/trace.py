"""Per-layer tracing for the benchmark's traced passes.

Spans are recorded from outside the program: the harness opens the
request, ``plans.build`` and ``spark.action`` spans, and :meth:`Tracer.install`
replaces each traced public function with a timing wrapper at every
name it is bound to inside the package (``plans/queries.py`` binds
``load`` by name; operators reach ``fsutil`` through its module
attribute; function-local imports read the defining module at call
time). :meth:`Tracer.uninstall` restores the originals, so untraced
passes run the program unmodified.

Spark counters come from the status stores, which are populated with
the UI disabled: every span carries the job-id window it covers, and
each request is charged with the stages submitted by its jobs and the
final (post-AQE) physical plans of the SQL executions it started.
``caching.storage_mb`` is the storage memory Spark's block manager holds
for cached blocks when the request's action ends, before its cache scope
releases them: memory the program chose to hold, which the end-to-end
``peak_rss_mb`` does not resolve under the fixed 1 GB heap.
"""

from __future__ import annotations

import importlib
import re
import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext
from datetime import datetime

from . import procfs

PKG = "formula1_dataengineering_spark"

def _targets() -> dict[str, list[tuple[str, str]]]:
    """Traced functions per layer, as (module, attribute); span names
    are ``<layer>.<attribute>``."""
    ops = {
        "compaction": ["compact_dedup_index", "compact_ann_index", "compact_scd2_feed"],
        "vacuum": ["vacuum_layout", "expire_scd2_history"],
        "deletion": [
            "delete_from_dedup_index",
            "delete_from_ann_index",
            "delete_scd2_feed_keys",
            "delete_scd2_history_keys",
        ],
        "maintenance": [
            "maintain_ann_index",
            "maintain_dedup_index",
            "maintain_scd2_feed",
            "maintain_layout",
        ],
        "scd": [
            "write_scd2_feed",
            "read_scd2_feed",
            "refresh_scd2_feed",
            "write_scd2_history",
            "read_scd2_history",
            "scd2_refresh_in_place",
            "scd2_refresh",
        ],
        "cow": ["stage_partition_rewrite", "commit_cow", "run_cow_swap", "resume_pending_cow"],
    }
    return {
        "sources": [(f"{PKG}.sources.catalog", "load")],
        "caching": [(f"{PKG}.caching", "managed_cache")],
        "operators": [
            (f"{PKG}.operators.{mod}", fn) for mod, fns in ops.items() for fn in fns
        ],
        "lease": [(f"{PKG}.operators.lease", "acquire_lease")],
        "snapshot": [(f"{PKG}.operators.snapshot", "publish_snapshot")],
        "fsutil": [(f"{PKG}.fsutil", fn) for fn in FSUTIL_ALL],
    }


#: Every public fsutil primitive is timed into ``fsutil.s``; these are
#: the ones reported as separate counts.
FSUTIL_COUNTED = (
    "rename",
    "delete",
    "write_text",
    "create_exclusive",
    "list_names",
    "exists",
    "read_text",
    "mkdirs",
)
FSUTIL_ALL = FSUTIL_COUNTED + (
    "is_dir",
    "touch",
    "committed_delta_batches",
    "du",
    "has_parquet",
    "require_layout_meta",
)

#: Physical-plan node names counted per request, keyed by metric.
#: ``plan.python_eval`` counts every operator that ships rows to Python.
PLAN_NODES = {
    "plan.exchange": ("Exchange",),
    "plan.sort_merge_join": ("SortMergeJoin",),
    "plan.broadcast_hash_join": ("BroadcastHashJoin",),
    "plan.window": ("Window",),
    "plan.sort": ("Sort",),
    "plan.python_eval": (
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "MapInArrow",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
        "AggregateInPandas",
        "WindowInPandas",
        "ArrowEvalPythonUDTF",
        "BatchEvalPythonUDTF",
    ),
}
# A node line of the formatted plan tree: "   +- * Exchange (12)",
# "ShuffleQueryStage (13), Statistics(...)".
_NODE_RE = re.compile(r"^[\s:|+*-]*(\w+)[^\n(]*\(\d+\)", re.M)


def plan_node_counts(description: str) -> Counter:
    """Node names of the executed plan: the tree before the per-node
    details, and under AQE only its final plan."""
    tree = description.split("\n\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return Counter(_NODE_RE.findall(tree))


MB = 1024.0 * 1024.0

#: Per-request counters, reported as their mean over traced requests.
COUNTER_UNITS = {
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "sources.load_jobs": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "spark.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.sql_executions": "count",
    "spark.task_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    **{m: "count" for m in PLAN_NODES},
    "functions.python_worker_cpu_s": "s",
    "functions.python_workers_started": "count",
    "caching.managed_cache_calls": "count",
    "caching.frames_released": "count",
    "caching.storage_mb": "MB",
    "operators.verb_calls": "count",
    "operators.verb_s": "s",
    "operators.lease_acquires": "count",
    "operators.snapshot_publishes": "count",
    **{f"fsutil.{p}": "count" for p in FSUTIL_COUNTED},
    "fsutil.s": "s",
    "streaming.queries_started": "count",
    "streaming.batches": "count",
    "streaming.startup_s": "s",
    "streaming.batch_s": "s",
}


class Span:
    __slots__ = ("id", "parent", "name", "t0", "t1", "job_lo", "job_hi", "attrs")

    def __init__(self, sid, parent, name, t0, job_lo):
        self.id, self.parent, self.name = sid, parent, name
        self.t0, self.t1 = t0, None
        self.job_lo, self.job_hi = job_lo, None
        self.attrs: dict = {}

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "parent": self.parent,
            "name": self.name,
            "t0": self.t0,
            "t1": self.t1,
            "jobs": [self.job_lo, self.job_hi],
            **self.attrs,
        }


class Tracer:
    """Spans and per-request layer counters for one Spark session."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._jvm_pid = spark.sparkContext._gateway.proc.pid
        self._memory = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get().memoryManager()
        self.spans: list[Span] = []
        self.requests: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: Span | None = None
        self._undo: list[tuple[object, str, object]] = []
        self._workers_seen: set[int] = set()
        self._stream_events: list[tuple] = []
        self._listener = None

    # -- spans -----------------------------------------------------------

    def _next_job(self) -> int:
        return self._dag.nextJobId()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            s = Span(len(self.spans), parent.id if parent else None, name, time.perf_counter(), self._next_job())
            self.spans.append(s)
        s.attrs.update(attrs)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.job_hi = self._next_job()
            s.t1 = time.perf_counter()

    @contextmanager
    def request(self, **key):
        """One request span; its counters are read once it has ended."""
        self._settle()
        e0 = self._last_execution_id()
        cpu0, _ = procfs.python_worker_cpu(self._jvm_pid)
        n_events = len(self._stream_events)
        with self.span("request", **key) as root:
            self._root = root
            try:
                yield root
            finally:
                self._root = None
        self._settle()
        cpu1, pids = procfs.python_worker_cpu(self._jvm_pid)
        root.attrs["counters"] = self._request_counters(
            root, e0, cpu1 - cpu0, pids, self._stream_events[n_events:]
        )
        self.requests.append(root.attrs["counters"])

    def storage_used(self) -> int:
        """Bytes of storage memory held by cached blocks now."""
        return int(self._memory.storageMemoryUsed())

    def _settle(self) -> None:
        # The status stores are fed by the asynchronous listener bus.
        self._bus.waitUntilEmpty(30_000)

    # -- wrappers --------------------------------------------------------

    def install(self) -> None:
        for layer, targets in _targets().items():
            for mod_name, attr in targets:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                self._rebind(orig, self._wrap(f"{layer}.{attr}", orig))
        self._install_listener()

    def uninstall(self) -> None:
        while self._undo:
            mod, attr, orig = self._undo.pop()
            setattr(mod, attr, orig)
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def _rebind(self, orig, wrapper) -> None:
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)
                    self._undo.append((mod, attr, orig))

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    def _install_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self._stream_events

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                events.append(("start", str(event.runId), event.timestamp))

            def onQueryProgress(self, event):
                p = event.progress
                events.append(("progress", str(p.runId), p.timestamp, p.batchDuration, p.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                events.append(("end", str(event.runId)))

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    # -- counters --------------------------------------------------------

    def _last_execution_id(self) -> int:
        n = int(self._sql.executionsCount())
        if n == 0:
            return -1
        return int(self._sql.executionsList(n - 1, 1).head().executionId())

    def _executions_after(self, e0: int) -> list:
        n = int(self._sql.executionsCount())
        take = 32
        while True:
            lo = max(0, n - take)
            seq = self._sql.executionsList(lo, n - lo)
            items = [seq.apply(i) for i in range(seq.size())]
            if lo == 0 or not items or int(items[0].executionId()) <= e0:
                return [x for x in items if int(x.executionId()) > e0]
            take *= 4

    def _stage_totals(self, job_lo: int, job_hi: int) -> dict:
        tot = Counter()
        seen: set[int] = set()
        empty = self.spark.sparkContext._gateway.new_array(
            self.spark.sparkContext._jvm.double, 0
        )
        for jid in range(job_lo, job_hi):
            try:
                job = self._store.job(jid)
            except Exception:  # evicted or never registered (failed submit)
                continue
            tot["jobs"] += 1
            sub = job.submissionTime()
            t_job = sub.get().getTime() if sub.isDefined() else 0
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self._store.stageData(sid, False, None, False, empty)
                for k in range(attempts.size()):
                    st = attempts.apply(k)
                    ssub = st.submissionTime()
                    # A stage submitted before this job is an earlier
                    # request's shuffle, skipped here.
                    if not ssub.isDefined() or ssub.get().getTime() < t_job:
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    tot["task_ms"] += st.executorRunTime()
                    tot["cpu_ns"] += st.executorCpuTime()
                    tot["gc_ms"] += st.jvmGcTime()
                    tot["shuffle_read"] += st.shuffleReadBytes()
                    tot["shuffle_write"] += st.shuffleWriteBytes()
                    tot["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    tot["input"] += st.inputBytes()
        return tot

    def _plan_counts(self, executions) -> Counter:
        out = Counter()
        for ex in executions:
            names = plan_node_counts(ex.physicalPlanDescription() or "")
            for metric, nodes in PLAN_NODES.items():
                out[metric] += sum(names[n] for n in nodes)
        return out

    def _stream_counters(self, events) -> dict:
        """Queries are keyed by run id (a restart from a checkpoint keeps
        the query id). Start-up is, per run, the time from its start to the first
        batch's ``addBatch`` phase: trigger delay plus the first batch's
        planning, offset and source set-up."""
        started: dict[str, float] = {}
        first_batch: dict[str, float] = {}
        batches, batch_ms = 0, 0
        for ev in events:
            if ev[0] == "start":
                started[ev[1]] = _iso_epoch(ev[2])
            elif ev[0] == "progress":
                batches += 1
                batch_ms += ev[3] or 0
                if ev[1] not in first_batch:
                    d = ev[4] or {}
                    pre_ms = d.get("triggerExecution", 0) - d.get("addBatch", 0)
                    first_batch[ev[1]] = _iso_epoch(ev[2]) + pre_ms / 1000.0
        startup = sum(
            max(0.0, first_batch[q] - t0) for q, t0 in started.items() if q in first_batch
        )
        return {
            "streaming.queries_started": len(started),
            "streaming.batches": batches,
            "streaming.startup_s": startup,
            "streaming.batch_s": batch_ms / 1000.0,
        }

    def _request_counters(self, root, e0, worker_cpu, worker_pids, events) -> dict:
        spans = [s for s in self.spans[root.id :] if _within(s, root, self.spans)]
        by_name = defaultdict(list)
        for s in spans:
            by_name[s.name].append(s)
        build = by_name["plans.build"]
        action = by_name["spark.action"]
        build_s = sum(s.t1 - s.t0 for s in build)
        action_s = sum(s.t1 - s.t0 for s in action)
        wall = root.t1 - root.t0
        st = self._stage_totals(root.job_lo, root.job_hi)
        executions = self._executions_after(e0)
        new_workers = worker_pids - self._workers_seen
        self._workers_seen |= worker_pids

        def layer(prefix):
            return [s for s in spans if s.name.startswith(prefix)]

        c = {
            "request_s": wall,
            "plans.build_s": build_s,
            "plans.build_jobs": sum(s.job_hi - s.job_lo for s in build),
            "spark.action_s": action_s,
            "spark.jobs": st["jobs"],
            "spark.stages": st["stages"],
            "spark.tasks": st["tasks"],
            "spark.sql_executions": len(executions),
            "spark.task_s": st["task_ms"] / 1000.0,
            "spark.task_cpu_s": st["cpu_ns"] / 1e9,
            "spark.gc_s": st["gc_ms"] / 1000.0,
            "spark.shuffle_read_mb": st["shuffle_read"] / MB,
            "spark.shuffle_write_mb": st["shuffle_write"] / MB,
            "spark.spill_mb": st["spill"] / MB,
            "spark.input_mb": st["input"] / MB,
            "sources.load_calls": len(by_name["sources.load"]),
            "sources.load_s": _outer_time(layer("sources.")),
            "sources.load_jobs": sum(s.job_hi - s.job_lo for s in by_name["sources.load"]),
            "functions.python_worker_cpu_s": worker_cpu,
            "functions.python_workers_started": len(new_workers),
            "caching.managed_cache_calls": len(by_name["caching.managed_cache"]),
            "caching.frames_released": root.attrs.get("frames_released", 0),
            "caching.storage_mb": root.attrs.get("storage_bytes", 0) / MB,
            "operators.verb_calls": len(layer("operators.")),
            "operators.verb_s": _outer_time(layer("operators.")),
            "operators.lease_acquires": len(by_name["lease.acquire_lease"]),
            "operators.snapshot_publishes": len(by_name["snapshot.publish_snapshot"]),
            "fsutil.s": _outer_time(layer("fsutil.")),
        }
        for prim in FSUTIL_COUNTED:
            c[f"fsutil.{prim}"] = len(by_name[f"fsutil.{prim}"])
        c.update(self._plan_counts(executions))
        for metric in PLAN_NODES:
            c.setdefault(metric, 0)
        c.update(self._stream_counters(events))
        return c


def _within(s: Span, root: Span, spans: list[Span]) -> bool:
    while s is not None:
        if s is root:
            return True
        s = spans[s.parent] if s.parent is not None else None
    return False


def _outer_time(spans: list[Span]) -> float:
    """Summed duration of the spans not nested inside another of them."""
    ids = {s.id for s in spans}
    by_id = {s.id: s for s in spans}
    total = 0.0
    for s in spans:
        p = s.parent
        nested = False
        while p is not None and not nested:
            nested = p in ids
            p = by_id[p].parent if p in by_id else None
        if not nested:
            total += s.t1 - s.t0
    return total


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def self_time_table(spans: list[Span]) -> dict[str, dict]:
    """Per span name: calls, total seconds and self seconds (duration
    minus the part of it that child spans cover)."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    table: dict[str, dict] = {}
    for s in spans:
        dur = s.t1 - s.t0
        covered, end = 0.0, s.t0
        for c in sorted(children[s.id], key=lambda c: c.t0):
            lo, hi = max(c.t0, end), min(c.t1, s.t1)
            if hi > lo:
                covered += hi - lo
                end = hi
        row = table.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += dur
        row["self_s"] += dur - covered
    return table


class _NullTracer:
    """Stand-in used by untraced passes: spans cost nothing."""

    def span(self, name, **attrs):
        return nullcontext(_NULL_SPAN)

    def request(self, **key):
        return nullcontext(_NULL_SPAN)

    def storage_used(self) -> int:
        return 0


class _NullSpan:
    @property
    def attrs(self) -> dict:
        return {}


_NULL_SPAN = _NullSpan()
NULL_TRACER = _NullTracer()

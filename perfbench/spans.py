"""In-memory spans around the engine's public entry points.

Nothing under ``interlinked_spark/`` is edited: the tracer rebinds
instance attributes (``Workflow.run``, the documented ``Workflow.resolve``
hook, ``Router.match``) and wraps ``Run.resolve`` to count memo hits.
Spark jobs come from the runtime's status store and streaming triggers
from a ``StreamingQueryListener``; both are turned into spans and
parented by time overlap once a request has ended.

Self time: every instant of a request is charged to the deepest span
active at that instant, so the per-layer self times of one request sum
exactly to its wall time and nothing is counted twice (overlapping
sibling jobs included).
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict
from datetime import datetime

#: Layer of each span kind -> the per-layer self-time metric it feeds.
SELF_METRIC = {
    "bench": "trace.unattributed_s",
    "workflow": "workflow.self_s",
    "routing": "routing.match_s",
    "sources": "sources.scan_s",
    "write": "sources.write_s",
    "operators": "operators.build_s",
    "compile": "spark.compile_s",
    "action": "spark.action_s",
    "job": "spark.exec_s",
    "trigger": "streaming.self_s",
}


#: Every per-layer metric, in report order, with its unit.  Times are
#: self times, except ``workflow.resolve_s`` and the ``streaming.*_s``
#: phases (inclusive); all are per-request means except the run-wide
#: ``session.start_s``, ``peak_rss_mb`` and ``trace.*`` figures.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "peak_rss_mb": "MB",
    "routing.match_calls": "count",
    "routing.match_s": "s",
    "workflow.resolve_s": "s",
    "workflow.self_s": "s",
    "workflow.produce_calls": "count",
    "workflow.memo_hits": "count",
    "workflow.persisted": "count",
    "workflow.eager_jobs": "count",
    "sources.scan_calls": "count",
    "sources.scan_s": "s",
    "sources.write_s": "s",
    "sources.files_written": "count",
    "sources.mb_written": "MB",
    "operators.build_s": "s",
    "spark.compile_s": "s",
    "spark.action_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_busy_s": "s",
    "spark.core_util": "ratio",
    "spark.gc_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.cache_mb": "MB",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.plan_s": "s",
    "streaming.wal_s": "s",
    "streaming.state_rows": "count",
    "streaming.self_s": "s",
    "trace.request_s": "s",
    "trace.unattributed_s": "s",
    "trace.requests": "count",
    "trace.overhead": "ratio",
}

#: Streaming metric -> the progress event's ``durationMs`` phase it sums.
_PHASES = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.plan_s": "queryPlanning",
    "streaming.wal_s": "walCommit",
}


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "depth")

    def __init__(self, name, layer, start, end=None, parent=None, depth=0):
        self.name, self.layer, self.start, self.end = name, layer, start, end
        self.parent, self.depth = parent, depth


class TriggerSpan(Span):
    """One streaming micro-batch, from a query progress event."""

    __slots__ = ("phase", "input_rows", "state_rows", "last")

    def __init__(self, start, durations, input_rows, state_rows):
        super().__init__("trigger", "trigger", start, start + durations.get("triggerExecution", 0) / 1000.0)
        self.phase, self.input_rows, self.state_rows, self.last = durations, input_rows, state_rows, False


class Tracer:
    """Spans and counters of the traced request in flight; ``requests``
    holds each finished request's metrics and ``log`` its spans."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.stack: list[Span] = []
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.runs: list = []
        self.requests: list[dict] = []
        #: Every span of every finished request, for ``write``.
        self.log: list[dict] = []
        self.last_job = self._next_job_id() - 1
        self.listener = None  # set by instrument()
        #: Wrappers record only while a traced request is in flight.
        self.active = False

    # -- recording -----------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self.stack[-1] if self.stack else None
        s = Span(name, layer, time.time(), parent=parent, depth=len(self.stack))
        self.spans.append(s)
        self.stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()

    def wrap(self, fn, name: str, layer: str, count: str | None = None):
        def traced(*args, **kw):
            if not self.active:
                return fn(*args, **kw)
            if count:
                self.counts[count] += 1
            with self.span(name, layer):
                return fn(*args, **kw)

        return traced

    def instrument(self, wkf) -> None:
        """Rebind ``wkf``'s entry points so every call records a span,
        count memo hits, and listen to streaming queries."""
        self._count_memo_hits()
        self._listen_streams()
        wkf.run = self.wrap(wkf.run, "Workflow.run", "workflow")
        for router in (wkf.router, wkf.config_router):
            router.match = self.wrap(router.match, "Router.match", "routing", "routing.match_calls")
        original_resolve = wkf.resolve

        def resolve(name, run=None):
            if not self.active:
                return original_resolve(name, run=run)
            self.counts["workflow.produce_calls"] += 1
            is_table = name.startswith("table.")
            if is_table:
                self.counts["sources.scan_calls"] += 1
            if run is not None and all(r is not run for r in self.runs):
                self.runs.append(run)
            with self.span(name, "sources" if is_table else "operators"):
                return original_resolve(name, run=run)

        wkf.resolve = resolve

    def _count_memo_hits(self) -> None:
        """Wrap ``Run.resolve``: a name already in the run's memo is a hit."""
        from interlinked_spark.workflow import Run

        original = Run.resolve
        tracer = self

        def resolve(run, resource_name):
            if tracer.active and run.cache.get(resource_name) is not None:
                tracer.counts["workflow.memo_hits"] += 1
            return original(run, resource_name)

        Run.resolve = resolve

    def _listen_streams(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        class Listener(StreamingQueryListener):
            def __init__(self):
                self.progress: list = []
                self.started = 0
                self.terminated = 0

            def onQueryStarted(self, event):
                self.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                state_rows = sum(op.numRowsTotal for op in p.stateOperators)
                self.progress.append((p.id, p.timestamp, dict(p.durationMs), p.numInputRows, state_rows))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                self.terminated += 1

        self.listener = Listener()
        self.spark.streams.addListener(self.listener)

    # -- request boundaries ---------------------------------------------

    def begin(self) -> None:
        """Start a traced request: jobs and stream progress from earlier
        (untraced) requests are skipped."""
        self.spans, self.stack, self.runs = [], [], []
        self.counts = defaultdict(float)
        self.last_job = self._next_job_id() - 1
        self._settle_streams()
        self.listener.progress = []
        self.active = True

    def finish(self, extra: dict | None = None) -> None:
        """Close the request: wait for the status store and the stream
        listener to catch up, then turn jobs and triggers into spans."""
        self.counts["workflow.persisted"] += sum(len(r.persisted) for r in self.runs)
        self.counts["spark.cache_mb"] = max(self.counts["spark.cache_mb"], self._cache_mb())
        jobs, stages = self._new_jobs()
        triggers = self._triggers()
        root = self.spans[0]
        jobs = [s for s in jobs if s.end > root.start and s.start < root.end]
        triggers = [s for s in triggers if s.end > root.start and s.start < root.end]
        internal = list(self.spans)
        for s in triggers:
            s.parent = _deepest(internal, s.start)
        for s in jobs:
            s.parent = _deepest(internal + triggers, (s.start + s.end) / 2)
        spans = internal + triggers + jobs
        for s in triggers + jobs:
            s.depth = s.parent.depth + 1
            s.start, s.end = max(s.start, root.start), min(s.end, root.end)
        rec = dict(self.counts)
        rec.update(extra or {})
        rec.update(self._layer_times(spans, triggers))
        rec.update(stages)
        rec["spark.jobs"] = len(jobs)
        rec["workflow.eager_jobs"] = sum(1 for j in jobs if _under(j, ("sources", "operators")))
        self.requests.append(rec)
        rid = len(self.requests)
        index = {id(s): i for i, s in enumerate(spans)}
        for s in spans:
            self.log.append({
                "request": rid, "id": index[id(s)], "name": s.name, "layer": s.layer,
                "start": s.start, "end": s.end,
                "parent": index.get(id(s.parent)) if s.parent is not None else None,
            })

    def write(self, path: str) -> None:
        """Write every recorded span as one JSON object per line."""
        import json

        with open(path, "w") as f:
            for row in self.log:
                f.write(json.dumps(row) + "\n")

    def _layer_times(self, spans, triggers) -> dict:
        root = spans[0]
        out = {metric: 0.0 for metric in SELF_METRIC.values()}
        for s, secs in _self_times(spans).items():
            out[SELF_METRIC[s.layer]] += secs
        out["trace.request_s"] = root.end - root.start
        out["workflow.resolve_s"] = sum(
            s.end - s.start for s in spans if s.name == "Workflow.run"
        )
        for metric, phase in _PHASES.items():
            out[metric] = sum(t.phase.get(phase, 0) for t in triggers) / 1000.0
        out["streaming.batches"] = len(triggers)
        out["streaming.input_rows"] = sum(t.input_rows for t in triggers)
        out["streaming.state_rows"] = sum(t.state_rows for t in triggers if t.last)
        return out

    # -- Spark status store ---------------------------------------------

    def _next_job_id(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def _new_jobs(self):
        target = self._next_job_id() - 1
        deadline = time.time() + 5.0
        while True:
            jobs = self.store.jobsList(None)
            fresh = []
            for i in range(jobs.size()):
                j = jobs.apply(i)
                if j.jobId() <= self.last_job:
                    break
                fresh.append(j)
            settled = all(j.completionTime().isDefined() for j in fresh)
            newest = fresh[0].jobId() if fresh else self.last_job
            if (settled and newest >= target) or time.time() > deadline:
                break
            time.sleep(0.02)
        self.last_job = max(self.last_job, newest)
        spans, stage_ids = [], set()
        for j in fresh:
            if not j.submissionTime().isDefined():
                continue
            start = j.submissionTime().get().getTime() / 1000.0
            end = j.completionTime().get().getTime() / 1000.0 if j.completionTime().isDefined() else start
            spans.append(Span(f"job {j.jobId()}", "job", start, end))
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        return spans, self._stage_totals(stage_ids)

    def _stage_totals(self, stage_ids) -> dict:
        t = defaultdict(float)
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted from the store
                continue
            if st.status().toString() in ("SKIPPED", "PENDING"):
                continue
            t["spark.stages"] += 1
            t["spark.tasks"] += st.numTasks()
            t["spark.failed_tasks"] += st.numFailedTasks()
            t["spark.task_busy_s"] += st.executorRunTime() / 1000.0
            t["spark.gc_s"] += st.jvmGcTime() / 1000.0
            t["spark.input_mb"] += st.inputBytes() / 1e6
            t["spark.shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            t["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            t["spark.spill_mb"] += st.diskBytesSpilled() / 1e6
        return t

    def _cache_mb(self) -> float:
        rdds = self.store.rddList(True)
        return sum(
            (rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed()) / 1e6 for i in range(rdds.size())
        )

    # -- streaming progress ----------------------------------------------

    def _settle_streams(self) -> None:
        """Wait until every started query's termination reached the
        listener (its progress events arrive before that)."""
        deadline = time.time() + 5.0
        while self.listener.terminated < self.listener.started and time.time() < deadline:
            time.sleep(0.02)

    def _triggers(self) -> list[TriggerSpan]:
        self._settle_streams()
        spans = []
        last = {}
        for qid, stamp, durations, rows, state_rows in self.listener.progress:
            start = datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()
            s = TriggerSpan(start, durations, rows, state_rows)
            spans.append(s)
            last[qid] = s
        for s in last.values():
            s.last = True
        return spans


def _deepest(spans: list[Span], t: float) -> Span:
    best = spans[0]
    for s in spans:
        if s.start <= t <= s.end and s.depth >= best.depth:
            best = s
    return best


def _under(span: Span, layers) -> bool:
    p = span.parent
    while p is not None:
        if p.layer in layers:
            return True
        p = p.parent
    return False


def _self_times(spans: list[Span]) -> dict[Span, float]:
    """Charge each elementary interval of the root span to the deepest
    span active in it (latest start breaks ties)."""
    root = spans[0]
    points = sorted({root.start, root.end, *(x for s in spans for x in (s.start, s.end) if root.start <= x <= root.end)})
    out: dict[Span, float] = defaultdict(float)
    for a, b in zip(points, points[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        owner = root
        for s in spans:
            if s.start <= mid < s.end and (s.depth, s.start) > (owner.depth, owner.start):
                owner = s
        out[owner] += b - a
    return out

"""Outside-in layer trace for the traced benchmark run.

Nothing inside the program changes: the tracer wraps the public
functions of each layer from here, listens to Structured Streaming
progress events and reads the ``statusTracker()`` job groups.  Spans
(name, start, end, parent, key, pass) and per-key counters stay in
memory and are written out once at the end of the run.

Layers and the functions wrapped:

- ``sources``: ``sources.tables.load_table`` (its footer preflight
  included)
- ``checkpoint``: ``DataFrame.localCheckpoint`` (called by
  ``operators.pinning.pin`` and by the graph and dedup operators)
- ``streaming``: ``streaming.queries.run_to_memory`` plus a
  ``StreamingQueryListener``
- ``ppjoin``: ``streaming.ppjoin.ppjoin_merge_batch``, called once per
  micro-batch from the PPJoin query's ``foreachBatch``

The harness adds the ``build`` (``spec.fn``), ``catalyst`` (forcing
``executedPlan``) and ``collect`` (``toPandas``) spans around each key.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import sys
import threading
import time

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQueryListener

# (module attribute holding the function, span name)
_WRAPPED = (
    ("flink_streaming_example_spark.sources.tables", "load_table", "sources.load"),
    ("flink_streaming_example_spark.streaming.queries", "run_to_memory", "streaming.drain"),
    ("flink_streaming_example_spark.streaming.ppjoin", "ppjoin_merge_batch", "ppjoin.batch"),
)

_PACKAGE = "flink_streaming_example_spark"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.keys: list[dict] = []  # one record per traced key execution
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.key: str | None = None
        self.pass_no: int | None = None
        self._key_span: int | None = None
        # one job group per key execution: a group shared across passes
        # would make statusTracker count earlier passes' jobs again
        self.group: str | None = None
        self._run_ids: dict[str, str] = {}  # streaming runId -> group
        self._progress: dict[str, list] = {}  # group -> progress records

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        # spans opened on another thread (foreachBatch callbacks run on
        # the py4j callback server) hang off the running key
        parent = stack[-1] if stack else self._key_span
        rec = {
            "id": next(self._ids), "name": name, "parent": parent,
            "key": self.key, "pass": self.pass_no,
            "start": time.perf_counter(), "end": None, "attrs": {},
        }
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def key_span(self, key: str, pass_no: int):
        self.key, self.pass_no = key, pass_no
        self.group = f"{key}@{pass_no}"
        self.spark.sparkContext.setJobGroup(self.group, f"perfbench {self.group}")
        try:
            with self.span("key") as rec:
                self._key_span = rec["id"]
                yield
        finally:
            self._key_span = None

    # -- installation --------------------------------------------------
    def install(self) -> None:
        """Wrap the layer functions everywhere they are bound and register
        the streaming listener, for the rest of the process."""
        for mod_name, attr, span_name in _WRAPPED:
            orig = getattr(sys.modules[mod_name], attr)
            self._rebind(orig, self._wrap(orig, span_name))
        # the session's concrete DataFrame class (pyspark.sql.classic)
        # overrides localCheckpoint; wrap it there
        cls = type(self.spark.range(1))
        cls.localCheckpoint = self._wrap(cls.localCheckpoint, "checkpoint")
        self.spark.streams.addListener(_Listener(self))

    def _wrap(self, fn, span_name):
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(span_name):
                return fn(*a, **kw)

        wrapper.__wrapped__ = fn
        return wrapper

    def _rebind(self, orig, new) -> None:
        """Replace ``orig`` in every loaded module of the program that
        bound it at import time (``from x import f`` copies the name)."""
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(_PACKAGE):
                continue
            for name, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, name, new)

    # -- streaming progress --------------------------------------------
    def on_started(self, run_id: str) -> None:
        with self._lock:
            self._run_ids[run_id] = self.group

    def on_progress(self, p) -> None:
        state = p.stateOperators or []
        rec = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs or {}),
            "state_rows": sum(s.numRowsTotal for s in state),
            "state_bytes": sum(s.memoryUsedBytes for s in state),
            "state_commit_ms": sum(s.commitTimeMs for s in state),
        }
        with self._lock:
            group = self._run_ids.get(rec["run_id"], self.group)
            self._progress.setdefault(group, []).append(rec)

    def flush_listener(self) -> None:
        """Wait until queued listener events have been delivered."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    # -- per-key accounting (outside the key's timed span) ---------------
    def finish_key(self, key: str, pass_no: int, attrs: dict) -> None:
        self.flush_listener()
        tracker = self.spark.sparkContext.statusTracker()
        with self._lock:
            run_ids = [r for r, g in self._run_ids.items() if g == self.group]
            progress = self._progress.pop(self.group, [])
            for r in run_ids:
                del self._run_ids[r]
        caller = _job_totals(tracker, [self.group])
        stream = _job_totals(tracker, run_ids)
        # the last progress of each query holds its final state size
        last: dict[str, dict] = {}
        for p in progress:
            last[p["run_id"]] = p
        dur = lambda name: sum(p["duration_ms"].get(name, 0) for p in progress)  # noqa: E731
        self.keys.append(dict(
            attrs, key=key, pass_no=pass_no,
            jobs=caller["jobs"] + stream["jobs"],
            stages=caller["stages"] + stream["stages"],
            tasks=caller["tasks"] + stream["tasks"],
            streaming_jobs=stream["jobs"],
            streaming_queries=len(run_ids),
            triggers=len(progress),
            nodata_triggers=sum(1 for p in progress if p["input_rows"] == 0),
            add_batch_ms=dur("addBatch"),
            planning_ms=dur("queryPlanning"),
            wal_commit_ms=dur("walCommit") + dur("commitOffsets"),
            state_commit_ms=sum(p["state_commit_ms"] for p in progress),
            state_rows=sum(p["state_rows"] for p in last.values()),
            state_bytes=sum(p["state_bytes"] for p in last.values()),
        ))

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(dict(extra, spans=self.spans, keys=self.keys), fh)


def _job_totals(tracker, groups: list[str]) -> dict[str, int]:
    jobs = stages = tasks = 0
    seen_stages: set[int] = set()
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            jobs += 1
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = tracker.getStageInfo(sid)
                # a stage whose output a later job reused is skipped:
                # it ran no tasks and does not count
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def catalyst_phases_ms(df: DataFrame) -> dict[str, float]:
    """Analysis, optimization and planning time the query's tracker
    recorded, in ms."""
    jvm = df.sparkSession._jvm
    qe = df._jdf.queryExecution()
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        qe.tracker().phases()
    )
    return {name: float(phases[name].durationMs()) for name in phases}


class _Listener(StreamingQueryListener):
    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onQueryStarted(self, event) -> None:
        self.tracer.on_started(str(event.runId))

    def onQueryProgress(self, event) -> None:
        self.tracer.on_progress(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

"""Span tracer for the traced run.

The tracer wraps public functions of each engine layer from the outside
(the package itself is never edited) and records one span per call: name,
start, end, parent span and request id. Spans stay in memory and are written
out as JSON lines when the run ends. Spark cost is counted per operation:
each operation runs under its own `setJobGroup`, and job, stage and task
counts are read back from `SparkContext.statusTracker()` after the window.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

_MISSING = object()


def scan_output_rows(jdf) -> int:
    """Sum of numOutputRows over the file-scan leaves of an executed plan."""
    total = 0
    stack = [jdf.queryExecution().executedPlan()]
    while stack:
        n = stack.pop()
        if "AdaptiveSparkPlan" in n.nodeName():
            stack.append(n.executedPlan())
            continue
        if n.nodeName().startswith("Scan "):
            m = n.metrics()
            if m.contains("numOutputRows"):
                total += m.apply("numOutputRows").value()
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.groups: dict[str, str] = {}  # job group -> op kind
        self.collects: list[tuple[dict, object, int]] = []  # (span, jdf, rows)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._undo: list[tuple] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, **attrs):
        """A root span starts a request id; a nested span inherits it."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "rid": parent["rid"] if parent else sid,
            "name": name,
            "t0": time.perf_counter(),
            "t1": None,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op(self, kind: str, name: str, group: bool = True, **attrs):
        """A benchmark-level operation: a root span and, when this thread
        runs the op's Spark jobs, a job group of its own."""
        with self.span(name, op=kind, **attrs) as rec:
            if group:
                with self.job_group(kind, rec["rid"]):
                    yield rec
            else:
                yield rec

    @contextmanager
    def job_group(self, kind: str, rid: int):
        """Run this thread's Spark jobs in a group of their own, then put
        back the group the thread had, so later untraced jobs are never
        counted against this op."""
        group = f"{kind}-{rid}"
        with self._lock:
            self.groups[group] = kind
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, kind)
        try:
            yield
        finally:
            if prev is None:
                for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                    self.sc.setLocalProperty(key, None)
            else:
                self.sc.setJobGroup(prev, self.groups.get(prev, prev))

    # -- wrappers ------------------------------------------------------------

    def wrap(self, owner, attr: str, name, after=None, around=None) -> None:
        """Replace owner.attr with a span-recording wrapper.

        `name` is a span name or a function of the call's args giving one;
        `after(rec, args, kwargs, result)` may annotate the span;
        `around(rec, args)` is a context manager entered inside the span
        (used to set job groups)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span_name = name(args) if callable(name) else name
            with tracer.span(span_name) as rec:
                if around is not None:
                    with around(rec, args):
                        out = orig(*args, **kwargs)
                else:
                    out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs, out)
                return out

        self._undo.append((owner, attr, vars(owner).get(attr, _MISSING)))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            if orig is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)

    # -- counters read after the window -------------------------------------

    def spark_costs(self) -> dict[str, dict[str, float]]:
        """Per op kind: number of ops, jobs and completed tasks."""
        from py4j.protocol import Py4JError

        try:  # let the listener bus deliver the last task-end events
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:
            time.sleep(1.0)
        st = self.sc.statusTracker()
        out: dict[str, dict[str, float]] = {}
        for group, kind in self.groups.items():
            acc = out.setdefault(kind, {"ops": 0, "jobs": 0, "tasks": 0})
            acc["ops"] += 1
            for job in st.getJobIdsForGroup(group):
                acc["jobs"] += 1
                info = st.getJobInfo(job)
                for stage in info.stageIds if info else ():
                    si = st.getStageInfo(stage)
                    acc["tasks"] += si.numCompletedTasks if si else 0
        return out

    def scan_rows(self) -> tuple[int, int]:
        """(file-scan rows, rows returned) over the traced read collects."""
        scanned = returned = 0
        for _rec, jdf, n in self.collects:
            scanned += scan_output_rows(jdf)
            returned += n
        return scanned, returned

    def write(self, path: str, t_base: float) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["t0"]):
                rec = dict(s, t0=s["t0"] - t_base, t1=s["t1"] - t_base)
                f.write(json.dumps(rec, default=str) + "\n")


def durations(spans, name: str, pred=None) -> list[float]:
    return [
        s["t1"] - s["t0"]
        for s in spans
        if s["name"] == name and (pred is None or pred(s))
    ]


def self_times(spans) -> dict[str, tuple[int, float, float]]:
    """name -> (count, total seconds, self seconds); self time is the span
    minus the part of it covered by its child spans."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["t1"] - s["t0"]
    out: dict[str, list] = {}
    for s in spans:
        d = s["t1"] - s["t0"]
        acc = out.setdefault(s["name"], [0, 0.0, 0.0])
        acc[0] += 1
        acc[1] += d
        acc[2] += d - child_time.get(s["id"], 0.0)
    return {k: tuple(v) for k, v in out.items()}


def install_engine_wrappers(tracer: Tracer) -> None:
    """Spans around the public functions of every engine layer."""
    try:  # the concrete class behind pyspark.sql.DataFrame
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    import fluxdb_spark.operators as ops
    from fluxdb_spark import forkdb, store
    from fluxdb_spark.operators import snapshot
    from fluxdb_spark.streaming import ingest, serve

    @contextmanager
    def request_group(rec, args):
        # QueryServer._route(self, path, params): the request id rides in
        # the query string so the handler thread's spans join the client's
        params = args[2]
        rid = params.pop("_rid", None)
        if rid is not None:
            # the client's op span has the request id as its own id
            rec["rid"] = rec["parent"] = int(rid)
        with tracer.job_group("read", rec["rid"]):
            yield

    tracer.wrap(
        serve.QueryServer,
        "_route",
        lambda a: "serve." + a[1].rsplit("/", 1)[-1],
        around=request_group,
    )
    for m in ("state_at", "row_at", "singlet_at", "state_series"):
        tracer.wrap(ingest.FluxEngine, m, f"engine.{m}")
        tracer.wrap(ops, m, f"temporal.{m}")

    def flush_group(rec, args):
        return tracer.job_group("flush", rec["rid"])

    tracer.wrap(ingest.IngestPipeline, "process_new_block", "ingest.new_block")
    tracer.wrap(ingest.IngestPipeline, "process_irreversible", "ingest.irreversible")
    tracer.wrap(ingest.IngestPipeline, "flush", "ingest.flush", around=flush_group)

    def overlay_rows(rec, args, kwargs, out):
        up_to = kwargs.get("up_to_height", args[1] if len(args) > 1 else None)
        segment = rec.pop("segment", ())
        rec["rows"] = 0 if out is None else sum(
            len(b.rows) for b in segment if up_to is None or b.ref.num <= up_to
        )

    tracer.wrap(ingest.IngestPipeline, "speculative_writes", "ingest.overlay", after=overlay_rows)

    def keep_segment(rec, args, kwargs, out):
        stack = tracer._stack()
        if len(stack) > 1 and stack[-2]["name"] == "ingest.overlay":
            stack[-2]["segment"] = out
        rec["blocks"] = len(out)

    tracer.wrap(forkdb.ForkDB, "reversible_segment", "forkdb.segment", after=keep_segment)
    tracer.wrap(store.ChangelogStore, "changelog", "store.changelog")
    tracer.wrap(store.ChangelogStore, "write_batch", "store.write_batch")
    tracer.wrap(store.ChangelogStore, "compact", "store.compact")
    tracer.wrap(store.FileChangelogBackend, "append_and_commit", "store.commit")
    tracer.wrap(store.IndexStore, "write", "snapshot.write")
    tracer.wrap(snapshot, "build_tablet_index", "snapshot.build_tablet_index")

    def keep_collect(rec, args, kwargs, out):
        # reads only: a collect under a read op or a served request
        if any(
            s.get("op") == "read" or s["name"].startswith("serve.")
            for s in tracer._stack()
        ):
            tracer.collects.append((rec, args[0]._jdf, len(out)))

    tracer.wrap(DataFrame, "collect", "spark.collect", after=keep_collect)

"""Spans, job counts and executed-plan metrics for the traced run.

Spans are kept in memory (name, start, end, parent, run id) and written
out when the run ends. Each span sets its own Spark job group, so the
jobs and tasks it launched are read back through ``statusTracker``.
Executed-plan SQL metrics are read over py4j from the SQL status store,
which keeps the final adaptive plan of every execution with the metric
values of that execution's own tasks.

Nothing here is imported by ``rsyslog_spark``: the traced run wraps the
package's public functions from outside (see ``instrument``).
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = ("session", "sources", "parse", "lookup", "route", "sinks",
          "checkpoint", "streaming")


@dataclass
class Span:
    name: str
    run_id: str
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    sc: object  # SparkContext
    run_id: str
    spans: list[Span] = field(default_factory=list)

    def __post_init__(self):
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_top: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            # a callback thread (foreachBatch) nests under the main
            # thread's open span, which is blocked waiting for it
            parent = self._main_top
        with self._lock:
            idx = len(self.spans)
            sp = Span(name, self.run_id, parent, f"{self.run_id}/{idx}/{name}")
            self.spans.append(sp)
        keys = ("spark.jobGroup.id", "spark.job.description")
        prev = [self.sc.getLocalProperty(k) for k in keys]
        self.sc.setJobGroup(sp.group, name)
        stack.append(idx)
        if threading.get_ident() == self._main:
            self._main_top = idx
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if threading.get_ident() == self._main:
                self._main_top = stack[-1] if stack else None
            for k, v in zip(keys, prev):
                self.sc.setLocalProperty(k, v)

    # -- reading spans back ------------------------------------------------

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_seconds(self, idx: int) -> float:
        return self.spans[idx].seconds - sum(
            self.spans[c].seconds for c in self.children(idx))

    def subtree(self, idx: int) -> list[int]:
        out = [idx]
        for c in self.children(idx):
            out += self.subtree(c)
        return out

    def named(self, name: str, within: int) -> list[int]:
        """Spans called ``name`` in the subtree of span ``within``."""
        return [i for i in self.subtree(within) if self.spans[i].name == name]

    def jobs(self, idxs) -> list[int]:
        st = self.sc.statusTracker()
        out: list[int] = []
        for i in idxs:
            out += st.getJobIdsForGroup(self.spans[i].group)
        return sorted(set(out))

    def dump(self, path: str, extra=()) -> None:
        """One JSON line per span, then one per extra record."""
        with open(path, "w") as fh:
            for rec in [asdict(s) for s in self.spans] + list(extra):
                fh.write(json.dumps(rec) + "\n")


def failed_tasks(sc, job_ids) -> int:
    """Failed tasks over the stages of the given jobs."""
    st = sc.statusTracker()
    failed = 0
    for j in job_ids:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            stage = st.getStageInfo(s)
            failed += stage.numFailedTasks if stage else 0
    return failed


def drain(sc) -> None:
    """Wait until the listener bus has delivered every event, so status
    stores and listeners have seen all finished jobs."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


# -- executed-plan SQL metrics ----------------------------------------------

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

PYTHON_NODES = ("MapInArrow", "ArrowEvalPython", "MapInPandas",
                "BatchEvalPython", "FlatMapGroupsInPandas")
# metric display name -> key, per node family
_PYTHON = {
    "time to run Python workers": "python_total_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "number of output rows": "python_rows",
}
_BROADCAST = {"time to collect": "broadcast_collect_s",
              "data size": "broadcast_bytes"}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: '1,234', '3.0 MiB', '1.6 s', or
    the 'total (min, med, max ...)' form, whose total is on line 2."""
    line = text.split("\n")[-1].strip()
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


@dataclass
class Execution:
    id: int
    jobs: list[int]
    root: str  # name and description of the plan's first node
    totals: dict[str, float]


def executions_since(spark, after_id: int) -> list[Execution]:
    """Plan-metric totals of every SQL execution with id > after_id."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _seq(store.executionsList()):
        eid = e.executionId()
        if eid <= after_id:
            continue
        jobs = [int(j) for j in str(e.jobs().keys().mkString(",")).split(",") if j]
        values = store.executionMetrics(eid)
        totals: dict[str, float] = {}
        root = ""
        for node in _seq(store.planGraph(eid).allNodes()):
            name = node.name()
            if not root and name != "AdaptiveSparkPlan":
                root = f"{name} {node.desc()}"
            fam = None
            if name in PYTHON_NODES:
                fam = _PYTHON
            elif name == "BroadcastExchange":
                fam = _BROADCAST
            elif name == "Exchange":
                fam = {"shuffle bytes written": "shuffle_bytes"}
            elif name.startswith("Execute InsertInto"):
                fam = {"written output": "bytes_written"}
            elif name.startswith("Scan parquet") and "run_id" not in node.desc():
                # the lineage table is the only other parquet read
                fam = {"number of output rows": "input_rows_scanned"}
            if fam is None:
                continue
            for m in _seq(node.metrics()):
                key = fam.get(m.name())
                v = values.get(m.accumulatorId())
                if key is None or not v.isDefined():
                    continue
                x = parse_metric(v.get())
                totals[key] = totals.get(key, 0.0) + x
                if key == "broadcast_collect_s":
                    totals["broadcasts"] = totals.get("broadcasts", 0) + 1
                if key == "input_rows_scanned" and x > 0:
                    totals["input_scans"] = totals.get("input_scans", 0) + 1
        out.append(Execution(eid, jobs, root, totals))
    return out


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [e.executionId() for e in _seq(store.executionsList())]
    return max(ids, default=-1)


def sum_totals(execs, key: str) -> float:
    return sum(e.totals.get(key, 0.0) for e in execs)


# -- streaming ----------------------------------------------------------------

def progress_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Keep(StreamingQueryListener):
        def __init__(self):
            self.progress = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append((str(p.runId), p.numInputRows, dict(p.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Keep()


# -- wrapping the package's public functions --------------------------------

@contextmanager
def instrument(tracer: Tracer, captured: dict):
    """Wrap the calls the flagship makes into parse, lookup, route and sinks
    with spans, and keep the frames they return in ``captured`` so the
    prefix probes can replay them. Restores every original on exit."""
    from pyspark.sql import DataFrame

    import rsyslog_spark.pipeline as pipeline
    import rsyslog_spark.streaming.pipeline as spipe
    from rsyslog_spark.route import RouteCompiler

    patched = []

    def patch(owner, attr, span_name, keep=None, on_call=None):
        orig = getattr(owner, attr)

        def wrapper(*a, **kw):
            if on_call:
                on_call(a)
            with tracer.span(span_name):
                out = orig(*a, **kw)
            if keep:
                captured.setdefault(keep, []).append((a, out))
            return out

        patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def hook_unpersist(args):
        # fan_out persists the annotated frame and unpersists it when it
        # returns: read the cache size just before it is dropped
        df = args[0]

        def unpersist(*a, **kw):
            cache = df.sparkSession._jsparkSession.sharedState().cacheManager()
            hit = cache.lookupCachedData(df._jdf)
            if hit.isDefined():
                stats = hit.get().cachedRepresentation().cacheBuilder()
                captured.setdefault("cache_bytes", []).append(
                    int(stats.sizeInBytesStats().value()))
            return DataFrame.unpersist(df, *a, **kw)

        df.unpersist = unpersist

    patch(pipeline, "with_parsed", "parse.with_parsed", keep="parse")
    patch(pipeline, "enrich_join", "lookup.enrich_join", keep="lookup")
    patch(RouteCompiler, "compile", "route.compile", keep="route")
    patch(pipeline, "fan_out", "sinks.fan_out", on_call=hook_unpersist)
    # the stream batch persists build_flagship's frame itself
    orig_build = spipe.build_flagship

    def build(batch_df):
        out = orig_build(batch_df)
        hook_unpersist((out[0],))
        return out

    patched.append((spipe, "build_flagship", orig_build))
    spipe.build_flagship = build
    try:
        yield
    finally:
        for owner, attr, orig in reversed(patched):
            setattr(owner, attr, orig)

"""Span tracing of the program's layers, installed from outside the program.

A :class:`Tracer` replaces module attributes (``extract.detect_mentions``,
``storage.Catalog.merge_by_key``, ...) with wrappers that open a span per
call. Every span runs its Spark jobs under a job group of its own, so once
the run ends the jobs, stages and SQL executions of each span can be read
back from Spark's status stores (which work with ``spark.ui.enabled=false``):

* per stage (``statusStore().lastStageAttempt``): task time, shuffle write,
  spill, GC, and the task-time skew from the stage's task summary;
* per SQL execution (``executionMetrics`` + ``planGraph``): Python-worker
  run/start time and bytes sent to the workers, rows/bytes/files written,
  join output rows and files read.

Spans are kept in memory; :meth:`Tracer.finish` resolves their metrics and
:meth:`Tracer.dump` writes them out. A call that returns a lazy DataFrame
gets a span covering only its plan construction; its execution lands in the
span of the action that runs it.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}

# SQL metric name -> span field; values are summed over plan nodes
_SQL_SUMS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "arrow_sent_mb",
    "number of written files": "files_written",
    "written output": "bytes_written_mb",
    "number of files read": "files_read",
}

SUM_FIELDS = (
    "jobs",
    "task_s",
    "shuffle_write_mb",
    "spill_mb",
    "gc_s",
    "python_run_s",
    "python_start_s",
    "arrow_sent_mb",
    "rows_written",
    "bytes_written_mb",
    "files_written",
    "files_read",
)
MAX_FIELDS = ("task_skew", "join_rows_max")

# the text form of one SQLPlanMetric(name, accumulatorId, metricType)
_METRIC_RE = re.compile(r"SQLPlanMetric\((.*?),(\d+),[\w-]+\)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value ('1.8 s', '425.1 KiB', '2,306', or the
    'total (min, med, max ...)' two-line form) as seconds, MB or a count."""
    line = text.strip().split("\n")[-1].strip()
    parts = line.split()
    if not parts:
        return 0.0
    num = float(parts[0].replace(",", ""))
    unit = parts[1] if len(parts) > 1 else ""
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit] / 2**20
    return num


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    trace_id: int
    start: float
    end: float = 0.0
    info: dict = field(default_factory=dict)
    own: dict = field(default_factory=dict)
    incl: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.span_id}"

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name,
            span_id=next(self._ids),
            parent_id=parent.span_id if parent else None,
            trace_id=parent.trace_id if parent else next(self._traces),
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", sp.group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", parent.group if parent else None
            )

    def wrap(self, owner, attr: str, name: str, capture=None) -> None:
        """Replace ``owner.attr`` by a traced wrapper. `capture(result)`
        may return a dict stored on the span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                res = fn(*args, **kwargs)
                if capture is not None:
                    sp.info.update(capture(res))
                return res

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- resolving ---------------------------------------------------------
    def _wait_for_listener(self, timeout_s: float = 10.0) -> None:
        st = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if not st.getActiveJobsIds():
                break
            time.sleep(0.1)
        time.sleep(0.5)  # the status listener applies events asynchronously

    def finish(self) -> None:
        """Read each span's own jobs, stages and SQL executions from the
        status stores, then fold them into inclusive per-span totals."""
        self._wait_for_listener()
        st = self.sc.statusTracker()
        jss = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0] = 0.5
        quantiles[1] = 1.0

        job_span: dict[int, Span] = {}
        for sp in self.spans:
            sp.own = {k: 0.0 for k in SUM_FIELDS + MAX_FIELDS}
            for j in st.getJobIdsForGroup(sp.group):
                job_span[j] = sp
        seen_stages: set[int] = set()
        for j in sorted(job_span):
            sp = job_span[j]
            sp.own["jobs"] += 1
            info = st.getJobInfo(j)
            for s in sorted(info.stageIds) if info else []:
                if s in seen_stages:
                    continue
                seen_stages.add(s)
                try:
                    sd = jss.lastStageAttempt(s)
                except Exception:  # evicted or never submitted
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                sp.own["task_s"] += sd.executorRunTime() / 1e3
                sp.own["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                sp.own["spill_mb"] += (
                    sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                ) / 2**20
                sp.own["gc_s"] += sd.jvmGcTime() / 1e3
                if sd.numTasks() >= 2:
                    summ = jss.taskSummary(s, sd.attemptId(), quantiles)
                    if summ.isDefined():
                        rt = summ.get().executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        if med > 0:
                            sp.own["task_skew"] = max(
                                sp.own["task_skew"], mx / med
                            )

        # one Py4J round trip per plan node for its metric list (parsed from
        # its text form) and one per metric kept: walking every metric
        # object took most of the resolving time
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in conv.asJava(sql.executionsList()):
            jobs = [int(j) for j in conv.asJava(ex.jobs()).keySet()]
            owners = [job_span[j] for j in sorted(jobs) if j in job_span]
            if not owners:
                continue
            sp = owners[0]
            values = conv.asJava(sql.executionMetrics(ex.executionId()))
            for node in conv.asJava(sql.planGraph(ex.executionId()).allNodes()):
                node_name = node.name()
                # output rows count where rows are written or joined
                rows_field = (
                    "rows_written" if "InsertInto" in node_name
                    else "join_rows_max" if "Join" in node_name
                    else None
                )
                for name, acc in _METRIC_RE.findall(node.metrics().toString()):
                    fld = _SQL_SUMS.get(name)
                    if fld is None and name == "number of output rows":
                        fld = rows_field
                    v = values.get(int(acc)) if fld else None
                    if v is None:
                        continue
                    if fld in MAX_FIELDS:
                        sp.own[fld] = max(sp.own[fld], parse_metric(v))
                    else:
                        sp.own[fld] += parse_metric(v)

        children: dict[int | None, list[Span]] = {}
        for sp in self.spans:
            children.setdefault(sp.parent_id, []).append(sp)

        def fold(sp: Span) -> dict:
            tot = dict(sp.own)
            covered = 0.0
            for ch in children.get(sp.span_id, []):
                sub = fold(ch)
                covered += ch.wall_s
                for k in SUM_FIELDS:
                    tot[k] += sub[k]
                for k in MAX_FIELDS:
                    tot[k] = max(tot[k], sub[k])
            tot["wall_s"] = sp.wall_s
            # children of one span run sequentially on the calling thread
            tot["self_s"] = max(sp.wall_s - covered, 0.0)
            sp.incl = tot
            return tot

        for root in children.get(None, []):
            fold(root)

    # -- queries -----------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def total(self, name: str, fld: str) -> float:
        """Sum of an inclusive field over the spans called `name`, counting
        a span nested inside another span of the same name once."""
        by_id = {sp.span_id: sp for sp in self.spans}

        def nested(sp: Span) -> bool:
            p = by_id.get(sp.parent_id)
            while p is not None:
                if p.name == name:
                    return True
                p = by_id.get(p.parent_id)
            return False

        return sum(
            sp.incl.get(fld, 0.0) for sp in self.named(name) if not nested(sp)
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(sp) for sp in self.spans], f)

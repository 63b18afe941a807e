"""Outside-in readers for perfbench's per-layer metrics.

Nothing here edits or wraps product code. The benchmark times calls into
the product's public functions and reads what Spark already records:

- ``StatusReader``: stage metrics per job group from the application
  status store, and per-operator SQL metrics (file scans, Python/Arrow
  workers) for the SQL executions of a window;
- ``ProgressListener``: a ``StreamingQueryListener`` collecting every
  micro-batch's ``StreamingQueryProgress``;
- ``RssSampler``: resident memory of this process tree (driver Python,
  driver JVM, Python workers), sampled from ``/proc``;
- ``Tracer``: in-memory spans (name, start, end, parent, run id), written
  once at exit.
"""

from __future__ import annotations

import math
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

PHASES = (
    "addBatch",
    "walCommit",
    "commitOffsets",
    "latestOffset",
    "queryPlanning",
    "getBatch",
    "triggerExecution",
)

# Scala-side stage counters summed per job group: (v1.StageData getter, key).
_STAGE_FIELDS = (
    ("executorRunTime", "run_ms"),
    ("executorCpuTime", "cpu_ns"),
    ("jvmGcTime", "gc_ms"),
    ("shuffleWriteBytes", "shuffle_write_bytes"),
    ("memoryBytesSpilled", "spill_bytes"),
    ("diskBytesSpilled", "spill_bytes"),
    ("inputBytes", "input_bytes"),
    ("inputRecords", "input_records"),
)

# SQL metric name -> counter key, for Python/Arrow worker operators.
_PYTHON_METRICS = {
    "time to run Python workers": "python_worker_s",
    "data sent to Python workers": "python_bytes_sent",
    "number of output rows": "python_rows_out",
}
_PYTHON_NODE = re.compile(r"Python|Arrow|Pandas")
_UNIT = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUMBER = re.compile(r"([\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def sql_metric_value(text: str) -> float | None:
    """Parse a SQL status-store metric string into bytes, seconds or a
    count. Spark stores ``Some(<formatted>)``; multi-task metrics put the
    total first on the last line (``total (min, med, max ...)\\n<total> ...``).
    Sizes and times keep the one decimal Spark formats them with."""
    text = str(text)
    if not text.startswith("Some("):
        return None
    m = _NUMBER.match(text[5:-1].strip().splitlines()[-1].strip())
    if m is None:
        return None
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2) or "", 1)


class StatusReader:
    """Reads Spark's status stores for the jobs of given job groups and
    the SQL executions started since a mark."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_tasks = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def sql_mark(self) -> int:
        return int(self._sql.executionsCount())

    def stages(self, groups) -> dict:
        """Stage counters summed over every job of ``groups``."""
        out = defaultdict(float)
        stage_ids = set()
        for group in groups:
            for jid in self._tracker.getJobIdsForGroup(group):
                out["jobs"] += 1
                info = self._tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
        for sid in stage_ids:
            attempts = self._store.stageData(
                sid, False, self._no_tasks, False, self._no_quantiles
            ).iterator()
            while attempts.hasNext():
                sd = attempts.next()
                for getter, key in _STAGE_FIELDS:
                    out[key] += getattr(sd, getter)()
        return dict(out)

    def sql(self, mark: int) -> dict:
        """File-scan and Python-worker SQL metrics of executions >= mark."""
        out = defaultdict(float)
        count = self.sql_mark()
        if count <= mark:
            return {}
        execs = self._sql.executionsList(mark, count - mark).iterator()
        while execs.hasNext():
            eid = execs.next().executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                python = bool(_PYTHON_NODE.search(node.name()))
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    name = m.name()
                    if name == "number of files read":
                        key = "scan_files"
                    elif python and name in _PYTHON_METRICS:
                        key = _PYTHON_METRICS[name]
                    else:
                        continue
                    v = sql_metric_value(values.get(m.accumulatorId()))
                    if v is not None:
                        out[key] += v
        return dict(out)

    def counters(self, groups, mark: int) -> dict:
        return {**self.stages(groups), **self.sql(mark)}


class ProgressListener(StreamingQueryListener):
    """Collects micro-batch progress. ``take(n)`` waits until ``n``
    queries have terminated since the last take and returns their run
    ids and progress records (listener events arrive asynchronously, in
    order: started, progress..., terminated)."""

    def __init__(self):
        self._cond = threading.Condition()
        self._run_ids: list[str] = []
        self._terminated = 0
        self._progress: list[dict] = []

    def onQueryStarted(self, event):
        with self._cond:
            self._run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
        }
        with self._cond:
            self._progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self._terminated += 1
            self._cond.notify_all()

    def take(self, n: int = 1, timeout: float = 30.0) -> tuple[list[str], list[dict]]:
        with self._cond:
            if not self._cond.wait_for(lambda: self._terminated >= n, timeout):
                raise TimeoutError("streaming listener: termination event missing")
            run_ids, progress = self._run_ids, self._progress
            self._run_ids, self._progress = [], []
            self._terminated -= n
        return run_ids, progress


def _tree_rss_bytes(root: int) -> int:
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants every ``interval`` seconds on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.peak_bytes = 0
        self.samples: list[int] = []
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self):
        while True:
            rss = _tree_rss_bytes(os.getpid())
            self.samples.append(rss)
            self.peak_bytes = max(self.peak_bytes, rss)
            if self._stop.wait(self._interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """In-memory spans. ``span(name, on=False)`` records nothing, so
    untraced passes run the same code path."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, on: bool = True, **attrs):
        if not on:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()


def percentile(samples, q: float) -> float:
    """The ``q`` quantile (linear interpolation), lowered to the highest
    quantile that still has at least ten samples beyond it, and never
    below the median."""
    xs = sorted(samples)
    n = len(xs)
    q = max(0.5, min(q, 1.0 - 10.0 / n))
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(samples) -> float:
    return percentile(samples, 0.5)

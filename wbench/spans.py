"""Measurement: process-tree CPU and memory, Spark status stores, spans.

* ``ProcTree`` reads ``/proc`` for the client process and everything it
  started (the driver JVM and the Python workers the JVM forks), so CPU
  and PSS cover the whole program, not just the client.
* ``SparkStatus`` reads the application status store
  (``sc._jsc.sc().statusStore()``) and the SQL status store
  (``spark._jsparkSession.sharedState().statusStore()``). The client is
  sequential, so the jobs and SQL executions of a span are exactly the
  ids handed out between its start and its end; no job group or
  description is ever set (the package owns ``spark.jobGroup.id``).
* ``Tracer`` records one span per call into a package module, nested
  pass -> stage/query/request -> call, keeps the spans in memory and
  writes them out at exit. With tracing off a span only yields.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
_KB_MB = 1024 / 1e6  # smaps_rollup reports kB; metrics use MB = 1e6 bytes


class ProcTree:
    """The client process and all of its descendants."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def _stat(self, pid: int) -> list[str] | None:
        try:
            with open(f"/proc/{pid}/stat") as f:
                s = f.read()
        except OSError:
            return None
        # comm may contain spaces; fields resume after the last ')'
        return s[s.rfind(")") + 2 :].split()

    def members(self) -> list[tuple[int, str]]:
        """(pid, role) for the tree; role is client, jvm or python."""
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = self._stat(int(name))
                if st is not None:
                    parent[int(name)] = int(st[1])
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        out = [(self.root, "client")]
        stack = [(c, "jvm") for c in children.get(self.root, [])]
        while stack:
            pid, role = stack.pop()
            out.append((pid, role))
            stack.extend((c, "python") for c in children.get(pid, []))
        return out

    def cpu(self) -> dict[str, float]:
        """Seconds of user+system CPU by role, including reaped children."""
        acc = {"client": 0.0, "jvm": 0.0, "python": 0.0}
        for pid, role in self.members():
            st = self._stat(pid)
            if st is not None:
                acc[role] += sum(int(x) for x in st[11:15]) / _CLK
        return acc

    def pss_mb(self) -> float:
        total = 0.0
        for pid, _ in self.members():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * _KB_MB
                            break
            except OSError:
                pass
        return total


class PssSampler:
    """Peak PSS of the tree, sampled on a thread while started."""

    def __init__(self, tree: ProcTree, interval: float = 0.25):
        self.tree, self.interval = tree, interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.pss_mb())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _bytes(text: str) -> float:
    m = re.match(r"([0-9.]+)\s*([KMGT]iB|B)", text.replace(",", ""))
    return float(m.group(1)) * _SIZE[m.group(2)] if m else 0.0


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


class SparkStatus:
    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int]:
        """(next job id, next SQL execution id). SQL executions reach their
        store through the listener bus, so the bus is drained first."""
        self._bus.waitUntilEmpty()
        n = self._sql.executionsCount()
        nxt = 0
        if n:
            nxt = self._sql.executionsList(n - 1, 1).apply(0).executionId() + 1
        return self._dag.numTotalJobs(), nxt

    def collect(self, start: tuple[int, int], end: tuple[int, int]) -> dict:
        """Job, stage and scan counters for the ids in [start, end)."""
        from py4j.protocol import Py4JJavaError

        out = dict(
            jobs=0, job_wall_s=0.0, exec_cpu_s=0.0, shuffle_b=0.0, spill_b=0.0,
            input_records=0, output_b=0.0, scan_b={}, files_read=0,
        )
        spans = []
        for jid in range(start[0], end[0]):
            try:
                job = self._app.job(jid)
            except Py4JJavaError:  # evicted or never registered
                continue
            out["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                spans.append(
                    (job.submissionTime().get().getTime(), job.completionTime().get().getTime())
                )
            for sid in _iter(job.stageIds()):
                try:
                    sd = self._app.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                out["exec_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_b"] += sd.shuffleWriteBytes()
                out["spill_b"] += sd.diskBytesSpilled()
                out["input_records"] += sd.inputRecords()
                out["output_b"] += sd.outputBytes()
        spans.sort()
        wall, cur = 0.0, None
        for a, b in spans:  # merged job intervals
            if cur is None or a > cur[1]:
                if cur is not None:
                    wall += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur is not None:
            wall += cur[1] - cur[0]
        out["job_wall_s"] = wall / 1000.0
        for eid in range(start[1], end[1]):
            try:
                graph = self._sql.planGraph(eid)
                values = self._sql.executionMetrics(eid)
            except Py4JJavaError:
                continue
            for node in _iter(graph.allNodes()):
                name = node.name()
                if not name.startswith("Scan "):
                    continue
                fmt = name.split()[1]
                for m in _iter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isEmpty():
                        continue
                    if m.name() == "size of files read":
                        out["scan_b"][fmt] = out["scan_b"].get(fmt, 0.0) + _bytes(v.get())
                    elif m.name() == "number of files read":
                        out["files_read"] += int(v.get().replace(",", ""))
        return out


class Span:
    __slots__ = ("id", "parent", "name", "t0", "t1", "attrs")

    def __init__(self, sid: int, parent: int | None, name: str, attrs: dict):
        self.id, self.parent, self.name, self.attrs = sid, parent, name, attrs
        self.t0 = self.t1 = 0.0


class Tracer:
    """Spans around the calls into the package's modules.

    ``span(name)`` nests under the innermost open span. With tracing on,
    each span also records the process-tree CPU split and the Spark
    counters of the jobs and SQL executions it launched."""

    def __init__(self, spark, tree: ProcTree, enabled: bool):
        self.enabled = enabled
        self.tree = tree
        self.status = SparkStatus(spark)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.self_s = 0.0  # time spent in span bookkeeping

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        b0 = time.perf_counter()
        sp = Span(len(self.spans), self._stack[-1].id if self._stack else None, name, attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        mark0, cpu0 = self.status.mark(), self.tree.cpu()
        sp.t0 = time.perf_counter()
        self.self_s += sp.t0 - b0
        try:
            yield attrs
        finally:
            sp.t1 = time.perf_counter()
            cpu1, mark1 = self.tree.cpu(), self.status.mark()
            self._stack.pop()
            attrs["cpu_s"] = sum(cpu1.values()) - sum(cpu0.values())
            attrs["python_s"] = cpu1["python"] - cpu0["python"]
            attrs.update(self.status.collect(mark0, mark1))
            self.self_s += time.perf_counter() - sp.t1

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for sp in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": sp.id,
                            "parent": sp.parent,
                            "name": sp.name,
                            "start": sp.t0,
                            "end": sp.t1,
                            "attrs": sp.attrs,
                        },
                        default=str,
                    )
                    + "\n"
                )

"""Host probes and the plan guard.

- ``cpu_times`` / ``alu_probe``: host-noise context for a run's record
  (hypervisor steal over the window, and a fixed pure-Python loop
  timed at its start and end). Context only: nothing waits on them.
- ``RssSampler``: peak resident memory of this process and every
  descendant (the JVM and its Python workers).
- ``PlanGuard``: fails a run whose executed plan lost a Python-UDF node
  that the DataFrame's own plan has (the ``.count()`` pruning trap).
"""

from __future__ import annotations

import os
import re
import threading
import time
from collections import Counter

PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow", "AggregateInPandas",
    "ArrowAggregatePython", "WindowInPandas", "ArrowWindowPython",
)
_NODE_LINE = re.compile(
    r"^[\s:|+\-*()\d]*(" + "|".join(PYTHON_NODES) + r")\b", re.MULTILINE
)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate /proc/stat line."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7], sum(v)


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[1] - t0[1]
    return 100.0 * (t1[0] - t0[0]) / total if total > 0 else 0.0


def alu_probe(n: int = 300_000) -> float:
    """Milliseconds for a fixed pure-Python integer loop: a slower
    reading than usual means a throttled or contended core."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) & 0xFFFFFFFF
    return (time.perf_counter() - t0) * 1e3


def _tree_rss_mb(root: int) -> float:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed /proc
            continue
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21])
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0) * page
        todo.extend(children.get(pid, []))
    return total / (1 << 20)


class RssSampler:
    """Samples the RSS of this process tree every ``period`` seconds
    between ``start`` and ``stop``; ``peak_mb`` is the largest sum."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self):
        pid = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, _tree_rss_mb(pid))
            if self._stop.wait(self.period):
                return

    def start(self):
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, _tree_rss_mb(os.getpid()))
        return self.peak_mb


def python_nodes(plan_text: str) -> Counter:
    """Python-UDF operators in a physical plan tree. For an adaptive
    plan only the initial plan is counted, so both sides of a
    comparison are pre-adaptive plans."""
    tree = plan_text.split("\n\n", 1)[0]
    if "== Initial Plan ==" in tree:
        tree = tree.split("== Initial Plan ==", 1)[1]
    return Counter(_NODE_LINE.findall(tree))


class PlanPruned(RuntimeError):
    pass


class PlanGuard:
    """Checks, after each pass, that every guarded sink call executed
    at least the Python-UDF operators of the plan Spark builds for the
    DataFrame itself (every output column computed). Sink calls are
    matched to SQL executions by their job description, which the
    tracer sets to ``<pass>:<span>``."""

    def __init__(self, spark):
        jss = spark._jsparkSession
        self._store = jss.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._seen = self._store.executionsCount()
        self._expected: dict[str, Counter] = {}
        self._pending: list[tuple[str, str, object]] = []
        self.checked = 0

    def expect(self, group: str, span: str, df) -> None:
        self._pending.append((group, span, df))

    def verify(self) -> None:
        """Match the executions since the last call to the pending sink
        calls; raise PlanPruned on the first that lost a Python node."""
        self._bus.waitUntilEmpty()
        n = self._store.executionsCount()
        found: dict[str, Counter] = {}
        execs = self._store.executionsList(self._seen, n - self._seen)
        for k in range(execs.length()):
            e = execs.apply(k)
            found.setdefault(e.description(), Counter()).update(
                python_nodes(e.physicalPlanDescription())
            )
        self._seen = n
        pending, self._pending = self._pending, []
        for group, span, df in pending:
            if span not in self._expected:  # plans repeat pass to pass
                plan = df._jdf.queryExecution().executedPlan().toString()
                self._expected[span] = python_nodes(plan)
            want = self._expected[span]
            got = found.get(group, Counter())
            lost = want - got
            self.checked += 1
            if lost:
                raise PlanPruned(
                    f"{group}: executed plan lost {dict(lost)} "
                    f"(wanted {dict(want)}, ran {dict(got)})"
                )

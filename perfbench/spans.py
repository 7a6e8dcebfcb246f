"""Spans and Spark counters for the traced run.

With tracing off every entry point here is a no-op: ``span`` hands back one
shared null context, ``call`` calls straight through, and no job group is
set or status store read. With tracing on:

- each call into a library layer is a span (name, start, end, parent), and
  all spans of one op share the op's id;
- each op runs in its own Spark job group; after the op the listener bus is
  drained, so the group's jobs, stages and SQL metrics are complete and the
  counts repeat exactly from run to run;
- spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

_NULL = contextlib.nullcontext()

# Stage fields summed per op: (output name, StageData getter, scale to SI).
_STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("exec_s", "executorRunTime", 1e-3),
    ("cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("input_rows", "inputRecords", 1),
)

# SQL metrics of the Arrow/pandas Python operators, by display name.
_PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"([0-9.]+) (ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def _metric_total(text: str) -> float:
    """The total of a formatted SQL metric: '2.4 s', '76.2 KiB', or
    'total (min, med, max ...)\\n2.4 s (0 ms, ...)'."""
    m = _VALUE.search(text.rsplit("\n", 1)[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.own_s = 0.0  # time spent in this class's code inside ops
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = None
        self._spark = None
        self._sql_seen = -1

    def attach(self, spark) -> None:
        self._spark = spark

    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    def call(self, layer: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span named after the library layer it
        belongs to."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self._span(layer):
            return fn(*args, **kwargs)

    @contextlib.contextmanager
    def _span(self, name: str):
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "op": self._op, "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name, "start": t0, "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            self._stack.pop()
            rec["end"] = t2
            self.own_s += t1 - t0 + time.perf_counter() - t2

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str):
        """One op: a root span plus, when tracing, its own job group."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        self._op = op_id
        self._spark.sparkContext.setJobGroup(f"perfbench-{op_id}", kind)
        self.own_s += time.perf_counter() - t0
        try:
            with self._span(f"op.{kind}"):
                yield
        finally:
            t0 = time.perf_counter()
            self._spark.sparkContext.setJobGroup("perfbench-idle", "idle")
            self._op = None
            self.own_s += time.perf_counter() - t0

    def layer_seconds(self, op_id: int) -> dict[str, float]:
        """Summed duration of each layer's spans inside one op."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] == op_id and s["parent"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def spark_counters(self, op_id: int) -> dict[str, float]:
        """Jobs, stages and stage/SQL metrics of one op's job group. Reads
        the status stores after draining the listener bus."""
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(f"perfbench-{op_id}"))
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": float(len(jobs)), "stages": float(len(stage_ids))}
        for name, _, _ in _STAGE_FIELDS:
            out[name] = 0.0
        store = jsc.statusStore()
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            for name, getter, scale in _STAGE_FIELDS:
                out[name] += getattr(st, getter)() * scale
        out.update(python_run_s=0.0, python_start_s=0.0, python_bytes=0.0)
        sql = self._spark._jsparkSession.sharedState().statusStore()
        it = sql.executionsList().iterator()
        newest = self._sql_seen
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            if eid <= self._sql_seen:
                continue
            newest = max(newest, eid)
            values = sql.executionMetrics(eid)
            seen: set[int] = set()
            mit = ex.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                key = _PY_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    out[key] += _metric_total(v.get())
        self._sql_seen = newest
        return out

    def skip_sql_history(self) -> None:
        """Mark every SQL execution so far (the set-up's) as seen."""
        if self.enabled:
            self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            sql = self._spark._jsparkSession.sharedState().statusStore()
            it = sql.executionsList().iterator()
            while it.hasNext():
                self._sql_seen = max(self._sql_seen, it.next().executionId())

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

"""Spans and Spark counters recorded from outside the program.

A span is opened around one call into a layer of the program (a CLI stage,
a query build, a noop-sink write).  Every leaf span runs under its own
Spark job group.  When tracing is on, the span collects on exit the
counters of the jobs in that group from Spark's status stores:

- ``AppStatusStore`` (``sc._jsc.sc().statusStore()``): jobs, the stages
  each job ran (``lastStageAttempt``), tasks, input/output/shuffle/spill
  bytes, executor run/CPU/GC time, result bytes;
- ``SQLAppStatusStore``: the "data sent to Python workers" metric of the
  SQL executions that ran those jobs (Spark keeps SQL metrics out of the
  stage records and stores only a rounded display string, so this one
  count is approximate to three significant digits);
- ``CacheManager``: cached relations left behind after the call.

All of these work with ``spark.ui.enabled=false``.  Spans stay in memory
and are written out once, when the run ends.  With tracing off a span is
a pair of ``perf_counter`` readings plus, for a leaf, its job group; the
exact work of a pass is then read only after the pass (``work_counts``).
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

PYTHON_SENT_METRIC = "data sent to Python workers"
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE = re.compile(r"([0-9]+(?:\.[0-9]+)?) (B|KiB|MiB|GiB|TiB)")

#: counters summed over the stages a span's jobs ran
STAGE_FIELDS = {
    "tasks": "numTasks",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "result_bytes": "resultSize",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
}


def parse_size(text: str) -> int:
    """Bytes in a Spark size-metric display string; the total comes first
    when the string carries a (min, med, max) breakdown."""
    m = _SIZE.search(text.split("\n")[-1])
    return int(float(m.group(1)) * _UNITS[m.group(2)]) if m else 0


class Tracer:
    def __init__(self, spark, enabled: bool, cores: int):
        self.spark = spark
        self.enabled = enabled
        self.cores = cores
        self.spans: list[dict] = []
        self.attrs: dict = {}  # merged into every new span, e.g. the pass
        self.overhead_s = 0.0  # time spent reading counters
        self._stack: list[int] = []
        self._groups = 0
        self._sql_seen = -1

    @contextmanager
    def span(self, name: str, leaf: bool = False, **attrs):
        """Time the body.  A ``leaf`` span (one call into the program) runs
        under its own job group; when tracing, it reads its counters on
        exit."""
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               **self.attrs, **attrs}
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        sc = self.spark.sparkContext
        if leaf:
            self._groups += 1
            rec["group"] = f"perfbench-{self._groups}"
            sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if leaf:
                sc.setLocalProperty("spark.jobGroup.id", None)
                if self.enabled:
                    t = time.perf_counter()
                    rec["counters"] = self._counters(rec["group"], rec["end"] - rec["start"])
                    self.overhead_s += time.perf_counter() - t

    def work_counts(self, p: int) -> dict:
        """Exact work done by pass ``p``, summed over its leaf spans.  An
        untraced pass is read only after it ends, so its timing is not
        disturbed by status-store reads."""
        total: dict = {}
        for rec in self.spans:
            if rec.get("pass") != p or "group" not in rec:
                continue
            c = rec.get("counters") or self._stage_totals(rec["group"])[0]
            for k, v in c.items():
                total[k] = total.get(k, 0) + v
        return total

    def _stage_totals(self, group: str) -> tuple[dict, list[int]]:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
        c = {k: 0 for k in STAGE_FIELDS}
        c.update(jobs=len(job_ids), stages=0, spill_bytes=0)
        for jid in job_ids:
            sids = store.job(jid).stageIds()
            for k in range(sids.size()):
                sd = store.lastStageAttempt(sids.apply(k))
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                for key, getter in STAGE_FIELDS.items():
                    c[key] += int(getattr(sd, getter)())
                c["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
        return c, job_ids

    def _counters(self, group: str, wall_s: float) -> dict:
        c, job_ids = self._stage_totals(group)
        c["python_bytes_sent"] = self._python_bytes(set(job_ids))
        c["core_busy"] = (c["run_ms"] / 1000.0) / (wall_s * self.cores) if wall_s > 0 else 0.0
        c["cached_relations"] = int(
            self.spark._jsparkSession.sharedState().cacheManager().cachedData().size()
        )
        return c

    def _python_bytes(self, job_ids: set[int]) -> int:
        if not job_ids:
            return 0
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = 0
        it = sql.executionsList().iterator()
        newest = self._sql_seen
        while it.hasNext():
            ex = it.next()
            eid = int(ex.executionId())
            if eid <= self._sql_seen:
                continue
            newest = max(newest, eid)
            jobs = ex.jobs().keySet().iterator()
            ran = set()
            while jobs.hasNext():
                ran.add(int(jobs.next()))
            if not ran & job_ids:
                continue
            ids = set()
            metrics = ex.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                if m.name() == PYTHON_SENT_METRIC:
                    ids.add(int(m.accumulatorId()))
            if ids:
                # iterate rather than look up: py4j would box the key as an
                # Integer, which never equals the map's Long keys
                values = sql.executionMetrics(eid).iterator()
                while values.hasNext():
                    kv = values.next()
                    if int(kv._1()) in ids:
                        total += parse_size(kv._2())
        self._sql_seen = newest
        return total

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "overhead_s": self.overhead_s}, f)

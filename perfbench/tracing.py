"""Spans and Spark accounting for the traced run.

Spans are recorded from the benchmark's side, around calls into the
program's public functions: name, start, end, parent.  A span opened
with ``group=True`` also runs its Spark jobs under a job group of its
own, so the jobs, stages, tasks and bytes it caused can be told apart
afterwards.  Nothing is scraped while a run measures: spans stay in
memory, and ``resolve`` reads the UI's REST endpoint once at the end
(stage bytes per job group; plan-node row counts per SQL execution).
JVM heap and GC time come from ``ManagementFactory`` over py4j.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager, nullcontext

# Plan nodes that read the graph source: the NDJSON text scan
# (from_json_lines) and the in-memory doc list (from_docs).
SOURCE_SCANS = ("Scan text", "Scan ExistingRDD", "LocalTableScan")


class Tracer:
    """In-memory span recorder with Spark accounting."""

    def __init__(self, spark):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._spark = spark

    @contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self._spark.sparkContext
        if group:
            rec["group"] = f"{name}#{rec['id']}"
            sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:  # grouped spans do not nest
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def jvm(self) -> dict:
        """Heap used (MB) and cumulative GC time (s) of the Spark JVM."""
        mf = self._spark._jvm.java.lang.management.ManagementFactory
        heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return {"heap_mb": heap / 2**20, "gc_s": gc / 1000.0}

    def _rest(self, path: str):
        sc = self._spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.loads(r.read())

    def resolve(self) -> None:
        """Attach Spark accounting to every grouped span: jobs, stages
        and tasks run, input/output/shuffle bytes, and rows the source
        scans produced."""
        grouped = [s for s in self.spans if "group" in s]
        if not grouped:
            return
        tracker = self._spark.sparkContext.statusTracker()
        deadline = time.time() + 10
        while time.time() < deadline and tracker.getActiveJobsIds():
            time.sleep(0.05)
        time.sleep(0.5)  # the listener bus records job ends asynchronously
        stages = {}
        for st in self._rest("stages?details=false"):
            if st.get("status") == "COMPLETE":
                stages.setdefault(st["stageId"], st)
        executions = self._rest("sql?details=true&planDescription=false"
                                "&offset=0&length=1000000")
        scan_rows_by_job: dict[int, int] = {}
        for ex in executions:
            rows = 0
            for node in ex.get("nodes", []):
                if node.get("nodeName", "").strip().startswith(SOURCE_SCANS):
                    for m in node.get("metrics", []):
                        if m.get("name") == "number of output rows":
                            rows += _int(m.get("value"))
            jobs = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            if jobs:
                scan_rows_by_job[min(jobs)] = scan_rows_by_job.get(min(jobs), 0) + rows
        for s in grouped:
            jobs = list(tracker.getJobIdsForGroup(s["group"]))
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            done = [stages[i] for i in stage_ids if i in stages]
            s.update(
                jobs=len(jobs),
                stages=len(done),
                tasks=sum(st.get("numCompleteTasks", 0) for st in done),
                input_bytes=sum(st.get("inputBytes", 0) for st in done),
                output_bytes=sum(st.get("outputBytes", 0) for st in done),
                shuffle_bytes=sum(st.get("shuffleWriteBytes", 0) for st in done),
                scan_rows=sum(scan_rows_by_job.get(j, 0) for j in jobs),
            )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _int(v) -> int:
    """REST metric values are display strings such as ``"12,345"``."""
    try:
        return int(str(v).replace(",", "").split()[0])
    except (ValueError, IndexError):
        return 0


class NullTracer:
    """The untraced run: no spans, no job groups."""

    def span(self, name: str, group: bool = False, **attrs):
        return nullcontext({})

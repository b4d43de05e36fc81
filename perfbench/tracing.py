"""Measurement plumbing: spans, job groups, streaming progress, the Spark
UI REST API and process-tree RSS.

Spans are recorded from the benchmark's side of each call into a layer;
``docpipe/pipeline.py`` imports its helpers by name, so the wrappers are
installed on the names the pipeline module looks up.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager


class Spans:
    """In-memory span log: name, start, end, parent and run id."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "id": len(self.records),
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return inner

    def install_docpipe(self) -> None:
        """Wrap the docpipe entry points the reindex job passes through."""
        from reindexer_spark.docpipe import pipeline
        from reindexer_spark.docpipe.solr_sink import SolrSink

        pipeline.run_reindex = self.wrap("run_reindex", pipeline.run_reindex)
        pipeline.shape_documents = self.wrap(
            "shape_documents", pipeline.shape_documents
        )
        pipeline.infer_content_schema = self.wrap(
            "infer_content_schema", pipeline.infer_content_schema
        )
        SolrSink.write = self.wrap("SolrSink.write", SolrSink.write)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.records, fh)


def span_total(records: list[dict], name: str) -> float:
    """Summed duration of the finished spans called ``name``."""
    return sum(
        r["end"] - r["start"] for r in records if r["name"] == name and r["end"] is not None
    )


@contextmanager
def job_group(spark, name: str):
    """Tag every Spark job this thread launches with ``name``."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def jobs_in_group(spark, name: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(name))


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


class StreamProgress:
    """StreamingQueryListener that keeps every progress event by run id."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: dict[str, list[dict]] = {}

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer.lock:
                    outer.started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state": [
                        {
                            "total": s.numRowsTotal,
                            "updated": s.numRowsUpdated,
                            "memory": s.memoryUsedBytes,
                            "update_ms": s.allUpdatesTimeMs,
                            "commit_ms": s.commitTimeMs,
                        }
                        for s in p.stateOperators
                    ],
                }
                with outer.lock:
                    outer.progress.setdefault(str(p.runId), []).append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.lock:
                    outer.terminated.add(str(event.runId))

        self.listener = Listener()

    def mark(self) -> int:
        with self.lock:
            return len(self.started)

    def runs_since(self, mark: int, timeout: float = 30.0) -> list[str]:
        """Run ids started after ``mark``, once each has terminated (the
        listener bus delivers events after the query returns)."""
        deadline = time.monotonic() + timeout
        while True:
            with self.lock:
                runs = self.started[mark:]
                done = all(r in self.terminated for r in runs)
            if done or time.monotonic() > deadline:
                return runs
            time.sleep(0.02)

    def batches(self, runs: list[str]) -> list[dict]:
        with self.lock:
            return [b for r in runs for b in self.progress.get(r, [])]


class StageSums:
    """Stage and task totals per job group from the Spark UI REST API."""

    def __init__(self, spark, port: int) -> None:
        self.spark = spark
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/"
            f"{spark.sparkContext.applicationId}"
        )

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.loads(resp.read())

    def _drain(self) -> None:
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 — internal API; fall back to a pause
            time.sleep(1.0)

    def sums(self, groups: set[str]) -> dict:
        """Totals over completed stage attempts of jobs in ``groups``."""
        self._drain()
        stage_ids = set()
        for job in self._get("/jobs"):
            if job.get("jobGroup") in groups:
                stage_ids.update(job.get("stageIds", []))
        out = {
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
        }
        for st in self._get("/stages?details=false"):
            if st.get("stageId") not in stage_ids or st.get("status") != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.get("numCompleteTasks", 0)
            out["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            out["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            out["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            out["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
            out["spill_mb"] += (
                st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            ) / 1e6
        return out


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended between listing and reading
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


class TreeRss:
    """Peak resident memory of this process and all its descendants,
    sampled from /proc on a background thread.  Each process contributes
    its proportional set size (``Pss`` in ``smaps_rollup``), so pages that
    forked Python workers share copy-on-write with their parent count once
    instead of once per worker."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> float:
        me = os.getpid()
        return sum(_pss_kb(pid) for pid in [me, *descendants(me)]) / 1e3

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._sample())
            self._stop.wait(self.interval)

    def start(self) -> "TreeRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, self._sample())
        return self.peak_mb

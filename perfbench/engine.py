"""Measuring the engine from outside: spans, plan shape, Spark job and
stage counters, persisted blocks, shuffle bytes and process memory.

Nothing here changes what the program does. Spans are recorded by the
benchmark around its own calls into the program's public functions;
counters come from what Spark already exposes (``explain("formatted")``
text, job groups plus ``statusTracker``, RDD storage info, and the UI
REST API when ``SPARK_GRAFT_UI=true``).
"""

from __future__ import annotations

import json
import os
import re
import signal
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------
class Tracer:
    """In-memory spans (name, start, end, parent, iteration). Written out
    once, when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.iteration = -1

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "iteration": self.iteration,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the part of it its
        child spans cover (children never overlap: one driver thread)."""
        done = [s for s in self.spans if s["end"] is not None]
        child = defaultdict(float)
        for s in done:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = defaultdict(list)
        for s in done:
            out[s["name"]].append(s["end"] - s["start"] - child[s["id"]])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# --------------------------------------------------------------------------
# plan shape from explain("formatted")
# --------------------------------------------------------------------------
def explain_formatted(df) -> str:
    jvm = df.sparkSession.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


_NODE = re.compile(r"^\((\d+)\) (.+?)\s*$")


def plan_shape(df, table_of=None) -> dict:
    """Scans per table and shuffle / broadcast / window exchanges of the
    physical plan ``df`` would run. ``table_of(scan_kind, details)``
    names the table a scan reads; by default the last path component
    of its ``Location``."""
    text = explain_formatted(df)
    nodes: dict[str, tuple[str, list[str]]] = {}
    cur = None
    for line in text.splitlines():
        m = _NODE.match(line)
        if m:
            cur = m.group(1)
            nodes[cur] = (m.group(2), [])
        elif cur is not None:
            nodes[cur][1].append(line)
    scans: dict[str, int] = defaultdict(int)
    shape = {"shuffle_exchanges": 0, "broadcast_exchanges": 0, "windows": 0}
    for name, details in nodes.values():
        if name == "Exchange":
            shape["shuffle_exchanges"] += 1
        elif name == "BroadcastExchange":
            shape["broadcast_exchanges"] += 1
        elif name == "Window":
            shape["windows"] += 1
        elif name.startswith("Scan "):
            kind = name[len("Scan "):]
            table = (table_of or _table_from_location)(kind, details)
            scans[table] += 1
    shape["scans"] = dict(scans)
    return shape


def _table_from_location(kind: str, details: list[str]) -> str:
    for d in details:
        if d.startswith("Location:"):
            path = d.split("[", 1)[-1].rstrip("]").split(",")[0].strip()
            return os.path.basename(path.rstrip("/"))
    return kind


# --------------------------------------------------------------------------
# Spark jobs, stages, tasks, shuffle bytes, persisted blocks
# --------------------------------------------------------------------------
class JobCounter:
    """Tags every Spark job a block of driver code starts with one job
    group, then counts the group's jobs, stages and tasks via
    ``statusTracker`` (and shuffle-write bytes via the REST API when
    the UI is on)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    @contextmanager
    def group(self, label: str):
        self.n += 1
        gid = f"perfbench-{self.n}-{label}"
        self.sc.setJobGroup(gid, label)
        res: dict = {}
        try:
            yield res
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")
            res.update(self.totals(gid))

    def totals(self, gid: str) -> dict:
        tr = self.sc.statusTracker()
        jobs = list(tr.getJobIdsForGroup(gid))
        stages: list[int] = []
        for j in jobs:
            info = tr.getJobInfo(j)
            if info is not None:
                stages.extend(info.stageIds)
        tasks = 0
        for s in stages:
            info = tr.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        out = {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
               "job_ids": jobs, "stage_ids": stages}
        rest = RestApi.of(self.sc)
        if rest is not None:
            out["shuffle_write_bytes"] = rest.shuffle_write_bytes(stages)
            out["binary_files_read"] = rest.binary_files_read(set(jobs))
        return out


class RestApi:
    """The Spark UI REST API of this application (``SPARK_GRAFT_UI=true``
    only); localhost, read-only."""

    def __init__(self, base: str):
        self.base = base

    @classmethod
    def of(cls, sc):
        url = sc.uiWebUrl
        if not url:
            return None
        return cls(f"{url}/api/v1/applications/{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def shuffle_write_bytes(self, stage_ids: list[int]) -> int:
        want = set(stage_ids)
        return sum(int(s.get("shuffleWriteBytes", 0))
                   for s in self._get("/stages") if s["stageId"] in want)

    def binary_files_read(self, job_ids: set[int]) -> int:
        """Files read by ``Scan binaryFile`` nodes of the SQL executions
        that ran ``job_ids`` (the CIF reader is the only binaryFile
        scan on the AF3 paths)."""
        n = 0
        for ex in self._get("/sql?details=true&planDescription=false&length=100000"):
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ran & job_ids:
                continue
            for node in ex.get("nodes", []):
                if node.get("nodeName") != "Scan binaryFile":
                    continue
                for m in node.get("metrics", []):
                    if m.get("name") == "number of files read":
                        n += int(str(m.get("value", "0")).replace(",", ""))
        return n


def persisted(spark) -> dict:
    """Persisted RDDs left in the session and the bytes they hold."""
    sc = spark.sparkContext
    n = sc._jsc.getPersistentRDDs().size()
    nbytes = 0
    for info in sc._jsc.sc().getRDDStorageInfo():
        nbytes += int(info.memSize()) + int(info.diskSize())
    return {"rdds": int(n), "bytes": nbytes}


# --------------------------------------------------------------------------
# memory of the JVM and its Python workers
# --------------------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def engine_peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of every process below this
    one — the driver JVM and the Python workers it forks — in MiB. The
    benchmark's own Python process is left out."""
    kids = _children()
    todo, total_kb = list(kids.get(os.getpid(), [])), 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def stop_engine(spark, timeout: float = 30.0) -> None:
    """Stop the session, the driver JVM and every process below this one,
    and wait until each has ended."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
    kids = _children()
    todo, left = list(kids.get(os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        left.append(pid)
        todo.extend(kids.get(pid, []))
    for pid in left:
        try:
            os.kill(pid, signal.SIGTERM)
        except OSError:
            pass
    deadline = time.time() + timeout
    for pid in left:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """Running (not ended, not a zombie); reaps it if it is our child."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def dir_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    files = nbytes = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            files += 1
            nbytes += os.path.getsize(os.path.join(d, f))
    return files, nbytes

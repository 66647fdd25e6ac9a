"""Spans around the benchmark's calls into the program, and the Spark work
each call caused.

Every public call the workloads make goes through ``Recorder.call``,
which times it and records whether it failed.  With tracing on, the call
also tags its Spark jobs with its span id (``SparkContext.setJobGroup``)
and, once it returns, pulls job and stage metrics from Spark's
monitoring REST API on the driver's local UI port (falling back to
``statusTracker()`` when the UI is off).  Streaming queries run their
jobs under their own group, so a job also belongs to a call when it was
submitted inside the call's span.  Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
import urllib.error
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from stats import Span, covered, self_times


@dataclass
class Call:
    name: str  # e.g. operators.merge
    span_id: int
    start: float
    end: float
    ok: bool
    cpu_s: float = 0.0  # CPU seconds of the driver, the JVM and its workers
    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    driver_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


def layer_of(call_name: str) -> str:
    if call_name.startswith("operators.timetravel."):
        return "operators.timetravel"
    return call_name.split(".", 1)[0]


class Recorder:
    """Times calls; with ``traced`` also attributes Spark jobs to them."""

    def __init__(self, traced: bool, run_id: str):
        self.traced = traced
        self.run_id = run_id
        self.spans: list[Span] = []
        self.calls: list[Call] = []
        self._open: list[int] = []
        self._next_id = 1
        self._spark = None
        self._api: str | None = None
        self._last_job = -1

    # -- wiring ----------------------------------------------------------
    def attach(self, spark) -> None:
        """Point the recorder at a (new) session."""
        self._spark = spark
        self._last_job = -1
        self._api = None
        if not self.traced:
            return
        url = spark.sparkContext.uiWebUrl
        if url:
            port = url.rsplit(":", 1)[1]
            self._api = (
                f"http://localhost:{port}/api/v1/applications/"
                f"{spark.sparkContext.applicationId}"
            )
        # everything run so far (set-up) is not any call's work
        self._settle()
        jobs = self._get("/jobs") if self._api else None
        if jobs:
            self._last_job = max(j["jobId"] for j in jobs)

    def _cpu(self) -> float:
        jvm = getattr(getattr(self._spark, "sparkContext", None), "_gateway", None)
        pid = getattr(getattr(jvm, "proc", None), "pid", None)
        return process_tree_cpu_s([os.getpid()] + ([pid] if pid else []))

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """A grouping span (an iteration, a query); calls nest under it."""
        sid = self._begin()
        start = time.time()
        try:
            yield sid
        finally:
            self._end(sid, name, start, time.time())

    def call(self, name: str, fn, *args, **kwargs):
        """Run one public call as its own span; re-raises its error after
        recording it as failed."""
        sid = self._begin()
        sc = self._spark.sparkContext if self.traced and self._spark else None
        if sc is not None:
            sc.setJobGroup(f"pb-{sid}", name)
        cpu0 = self._cpu()
        start = time.time()
        ok = False
        try:
            result = fn(*args, **kwargs)
            ok = True
            return result
        finally:
            end = time.time()
            self._end(sid, name, start, end)
            rec = Call(name, sid, start, end, ok, self._cpu() - cpu0)
            self.calls.append(rec)
            if sc is not None:
                sc.setJobGroup("pb-glue", "between calls")
                self._attribute(rec)

    def mark_wrong(self, rec_name: str) -> None:
        """Count the latest call of ``rec_name`` as failed (wrong output)."""
        for rec in reversed(self.calls):
            if rec.name == rec_name:
                rec.ok = False
                return

    def _begin(self) -> int:
        sid = self._next_id
        self._next_id += 1
        self._open.append(sid)
        return sid

    def _end(self, sid: int, name: str, start: float, end: float) -> None:
        self._open.remove(sid)
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(sid, name, start, end, parent))

    # -- Spark job attribution ---------------------------------------------
    def _settle(self) -> None:
        """Wait until the listener bus has delivered every event so the
        status store reflects the jobs that just finished."""
        try:
            self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(5000)
        except Exception:  # noqa: BLE001 - private API; polling below covers it
            time.sleep(0.05)

    def _get(self, path: str):
        try:
            with urllib.request.urlopen(self._api + path, timeout=5) as resp:
                return json.loads(resp.read())
        except (urllib.error.URLError, OSError, ValueError):
            return None

    def _attribute(self, rec: Call) -> None:
        self._settle()
        if self._api is None:
            self._attribute_tracker(rec)
            return
        jobs = self._get("/jobs")
        if jobs is None:
            self._attribute_tracker(rec)
            return
        new = [j for j in jobs if j["jobId"] > self._last_job]
        if new:
            self._last_job = max(j["jobId"] for j in new)
        tag = f"pb-{rec.span_id}"
        mine = [
            j for j in new
            if j.get("jobGroup") == tag
            or (j.get("jobGroup") != "pb-glue"
                and rec.start <= _epoch(j.get("submissionTime")) <= rec.end)
        ]
        intervals = []
        for j in mine:
            rec.jobs += 1
            t0 = _epoch(j.get("submissionTime"))
            t1 = _epoch(j.get("completionTime")) or rec.end
            intervals.append((t0, t1))
            for sid in j.get("stageIds", []):
                for att in self._get(f"/stages/{sid}") or []:
                    if att.get("status") == "SKIPPED":
                        continue
                    rec.tasks += int(att.get("numCompleteTasks", 0))
                    rec.shuffle_bytes += int(att.get("shuffleWriteBytes", 0))
                    rec.input_bytes += int(att.get("inputBytes", 0))
                    rec.output_bytes += int(att.get("outputBytes", 0))
        rec.driver_s = rec.seconds - covered(intervals, rec.start, rec.end)

    def _attribute_tracker(self, rec: Call) -> None:
        st = self._spark.sparkContext.statusTracker()
        ids = st.getJobIdsForGroup(f"pb-{rec.span_id}")
        rec.jobs = len(ids)
        for jid in ids:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                stage = st.getStageInfo(sid)
                rec.tasks += stage.numCompletedTasks if stage else 0
        rec.driver_s = rec.seconds

    # -- output --------------------------------------------------------------
    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump({
                "run_id": self.run_id,
                "spans": [
                    {**asdict(s), "self_s": selfs[s.span_id]} for s in self.spans
                ],
                "calls": [asdict(c) for c in self.calls],
            }, fh)


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def process_tree(roots: list[int]) -> list[int]:
    """``roots`` and every live descendant."""
    out, todo = [], list(roots)
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        out.append(pid)
        try:
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue  # exited meanwhile
    return out


def process_tree_cpu_s(roots: list[int]) -> float:
    """User + system CPU seconds of ``roots`` and their descendants,
    including descendants that already exited and were waited for."""
    total = 0
    for pid in process_tree(roots):
        try:
            total += sum(int(x) for x in _stat(pid)[11:15])  # utime stime cutime cstime
        except (OSError, ValueError):
            continue
    return total / _TICK


def running(pid: int) -> bool:
    try:
        return _stat(pid)[0] != "Z"
    except (OSError, IndexError):
        return False


def _epoch(stamp: str | None) -> float:
    """Spark REST time ('2026-01-02T03:04:05.678GMT') → unix seconds."""
    if not stamp:
        return 0.0
    t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()

"""Spans around the calls the benchmark makes into each module, and the
Spark work each call caused.

Nothing inside ``xml_to_es_spark`` is instrumented: a span opens and
closes in the benchmark's own code. Each span sets its own Spark job
group. Jobs are attributed by the window of job ids started while the
span was open, not by group, because the index build starts some jobs
from helper threads that do not inherit the caller's group. Stage run
time, CPU time and shuffle bytes come from the application status
store, which works with the Spark UI off. Spans stay in memory and are
written out once, at exit.
"""

from __future__ import annotations

import inspect
import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError


class Tracer:
    """Records spans (name, start, end, parent, op) when enabled; a
    no-op when not, so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None

    def bind(self, spark) -> None:
        """Attach the session; spans open only after this."""
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()

    def _jobs_started(self) -> int:
        return int(self._dag.numTotalJobs())

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(sid)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"perfbench-{sid}", name)
        rec["job_lo"] = self._jobs_started()
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["job_hi"] = self._jobs_started()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def wrap_methods(self, obj, name: str) -> None:
        """Route every public method call on ``obj`` through a span, so
        calls another module makes into it are timed from outside."""
        for attr, _ in inspect.getmembers(type(obj), inspect.isfunction):
            if attr.startswith("_"):
                continue
            bound = getattr(obj, attr)

            def traced(*a, _f=bound, **kw):
                with self.span(name):
                    return _f(*a, **kw)

            setattr(obj, attr, traced)

    # -- after the run --------------------------------------------------------

    def resolve_spark(self) -> None:
        """Attach jobs, stages, tasks, task CPU/run time and shuffle
        bytes to every span. A stage belongs to the first job that ran
        it, so a stage a later job skips is not counted twice."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Py4JError:  # not on this Spark version: give the bus a moment
            time.sleep(1.0)
        tracker, store, jvm = self.sc.statusTracker(), jsc.statusStore(), self.sc._jvm
        n_jobs = self._jobs_started()
        owner: dict[int, int] = {}
        for jid in range(n_jobs):
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                owner.setdefault(sid, jid)
        stage_of_job: dict[int, list[dict]] = {}
        for sid, jid in owner.items():
            attempts = store.stageData(
                sid, False, jvm.java.util.ArrayList(), False,
                self.sc._gateway.new_array(jvm.double, 0),
            )
            for i in range(attempts.size()):
                a = attempts.apply(i)
                if str(a.status()) == "SKIPPED":
                    continue
                stage_of_job.setdefault(jid, []).append({
                    "tasks": int(a.numCompleteTasks()),
                    "run_ms": int(a.executorRunTime()),
                    "cpu_ms": int(a.executorCpuTime()) / 1e6,
                    "shuffle_bytes": int(a.shuffleReadBytes()) + int(a.shuffleWriteBytes()),
                })
        for rec in self.spans:
            jobs = range(rec.get("job_lo", 0), rec.get("job_hi", 0))
            stages = [s for j in jobs for s in stage_of_job.get(j, ())]
            rec["jobs"] = len(jobs)
            rec["stages"] = len(stages)
            for key in ("tasks", "run_ms", "cpu_ms", "shuffle_bytes"):
                rec[key] = sum(s[key] for s in stages)

    def write(self, path) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

    # -- queries over the recorded spans ---------------------------------------

    def named(self, name: str, outermost: bool = False) -> list[dict]:
        out = [s for s in self.spans if s["name"] == name and "end" in s]
        if outermost:
            out = [s for s in out
                   if s["parent"] is None or self.spans[s["parent"]]["name"] != name]
        return out

    def per_op(self, name: str, ops: list[int]) -> list[float]:
        """Milliseconds in the outermost ``name`` spans of each op."""
        sums = dict.fromkeys(ops, 0.0)
        for s in self.named(name, outermost=True):
            if s["op"] in sums:
                sums[s["op"]] += dur_ms(s)
        return [sums[op] for op in ops]


def dur_ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1e3

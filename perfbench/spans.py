"""Spans around the benchmark's calls into each layer, and the Spark work
attributed to them.

A span records its wall and the range of Spark job ids submitted while
it was open (``DAGScheduler.numTotalJobs`` before and after).  Nothing
else is read while the benchmark runs.  Before Spark stops, ``snapshot``
drains the listener bus and reads the status stores once (jobs, stages
and SQL executions, serialised to JSON on the JVM side); after it stops,
``collect`` adds the Python-boundary metrics from the event log and
attributes

* stages to the lowest job id that lists them,
* SQL executions to the span holding their lowest job id (or, for an
  execution with no job, to the span whose window holds its start),
* jobs to spans by id range; a child span (a pyramid level, cut from a
  manifest after the fact) takes the jobs of its parent submitted
  inside its own window.

Job ids are used rather than ``setJobGroup`` because the engine submits
jobs from its own ``ThreadPoolExecutor`` threads, which do not inherit
a job group.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from typing import Optional

MB = 2**20

COUNTERS = (
    "wall_s", "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "output_mb", "spill_mb",
    "failed_tasks", "py_to_mb", "py_from_mb", "py_run_s", "py_init_s",
    "driver_gap_s", "sql_execs",
)

# SQL metrics of the Arrow Python nodes (MapInPandas, FlatMapGroupsInPandas,
# ...): the Python<->JVM boundary every geometry kernel crosses.  The
# status store drops SQL accumulators from its stage data and loses them
# for plans run through localCheckpoint, so they are read per stage from
# the event log, where they are raw values (bytes, ms).
_PY_METRICS = {
    "data sent to Python workers": ("py_to_mb", 1 / MB),
    "data returned from Python workers": ("py_from_mb", 1 / MB),
    "time to run Python workers": ("py_run_s", 1e-3),
    "time to start Python workers": ("py_init_s", 1e-3),
    "time to initialize Python workers": ("py_init_s", 1e-3),
}


def python_metrics(event_log: str) -> dict:
    """stage id -> {py counter: value} summed over the stage's attempts,
    from an uncompressed single-file Spark event log."""
    out: dict = {}
    with open(event_log) as f:
        for line in f:
            if '"SparkListenerStageCompleted"' not in line:
                continue
            info = json.loads(line)["Stage Info"]
            row = out.setdefault(info["Stage ID"], {})
            for acc in info.get("Accumulables", []):
                key = _PY_METRICS.get(acc.get("Name"))
                if key and acc.get("Value") is not None:
                    row[key[0]] = row.get(key[0], 0.0) + float(acc["Value"]) * key[1]
    return out


class Tracer:
    """Records spans; reads Spark job ids only when ``enabled``."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.stage = "run"  # set by the caller: warmup, setup, window, ...
        self.spans: list = []
        self._spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self.job0 = self._jobs()

    def _jobs(self) -> Optional[int]:
        return self._dag.numTotalJobs() if self.enabled else None

    @contextmanager
    def span(self, name: str):
        rec = dict(name=name, stage=self.stage, parent=None,
                   job_lo=self._jobs(), t0=time.time())
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            rec["job_hi"] = self._jobs()
            self.spans.append(rec)

    def child(self, parent: dict, name: str, t0: float, t1: float) -> None:
        """A span cut out of ``parent`` after the fact (e.g. a pyramid
        level, whose window comes from the manifest the store wrote)."""
        self.spans.append(dict(name=name, stage=parent["stage"],
                               parent=parent, t0=t0, t1=t1,
                               job_lo=parent["job_lo"],
                               job_hi=parent["job_hi"]))

    # ----------------------------------------------------------- readout
    def _store_json(self) -> tuple:
        sc = self._spark.sparkContext
        jvm = sc._jvm
        self._jsc.listenerBus().waitUntilEmpty()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
        mapper.registerModule(getattr(scala, "MODULE$"))
        store = self._jsc.statusStore()
        sql = self._spark._jsparkSession.sharedState().statusStore()
        jobs = mapper.writeValueAsString(store.jobsList(None))
        stages = mapper.writeValueAsString(store.stageList(
            None, False, False, sc._gateway.new_array(jvm.double, 0), None))
        execs = mapper.writeValueAsString(sql.executionsList())
        return json.loads(jobs), json.loads(stages), json.loads(execs)

    def snapshot(self) -> None:
        """Read the status stores; call before Spark stops."""
        self._store = self._store_json()

    def collect(self, py_by_stage: dict) -> dict:
        """Counters per span (added to each span dict under ``c``) and the
        run totals over every job since the tracer started.
        ``py_by_stage`` comes from ``python_metrics``."""
        jobs, stages, execs = self._store
        jobs = {j["jobId"]: j for j in jobs if j["jobId"] >= self.job0}
        stage_job: dict = {}
        for jid in sorted(jobs, reverse=True):
            for sid in jobs[jid]["stageIds"]:
                stage_job[sid] = jid
        by_job: dict = {}
        for s in stages:
            jid = stage_job.get(s["stageId"])
            if jid is not None and s["status"] != "SKIPPED":
                by_job.setdefault(jid, []).append(s)
        tops = [s for s in self.spans if s["parent"] is None]
        exec_of: dict = {}
        for e in execs:
            ids = [int(k) for k in e.get("jobs", {})]
            if ids:
                jid = min(ids)
                home = next((s for s in tops
                             if s["job_lo"] <= jid < s["job_hi"]), None)
            else:
                t = e["submissionTime"] / 1e3
                home = next((s for s in tops if s["t0"] <= t <= s["t1"]), None)
            if home is not None:
                exec_of.setdefault(id(home), []).append(e)

        for sp in self.spans:
            own = [j for j in range(sp["job_lo"], sp["job_hi"]) if j in jobs]
            if sp["parent"] is not None:
                own = [j for j in own
                       if sp["t0"] <= jobs[j]["submissionTime"] / 1e3 <= sp["t1"]]
            home = sp["parent"] or sp
            mine = [e for e in exec_of.get(id(home), [])
                    if sp is home
                    or sp["t0"] <= e["submissionTime"] / 1e3 <= sp["t1"]]
            sp["c"] = self._counters(sp, [jobs[j] for j in own],
                                     [s for j in own for s in by_job.get(j, [])],
                                     mine, py_by_stage)
        all_stages = [s for j in jobs for s in by_job.get(j, [])]
        totals = dict(jobs=len(jobs), stages=len(all_stages),
                      tasks=sum(_tasks(s) for s in all_stages))
        return totals

    @staticmethod
    def _counters(sp: dict, jobs: list, stages: list, execs: list,
                  py_by_stage: dict) -> dict:
        wall = sp["t1"] - sp["t0"]
        c = dict.fromkeys(COUNTERS, 0.0)
        c.update(
            wall_s=wall, jobs=len(jobs), stages=len(stages),
            tasks=sum(_tasks(s) for s in stages),
            exec_run_s=sum(s["executorRunTime"] for s in stages) / 1e3,
            exec_cpu_s=sum(s["executorCpuTime"] for s in stages) / 1e9,
            gc_s=sum(s["jvmGcTime"] for s in stages) / 1e3,
            shuffle_read_mb=sum(s["shuffleReadBytes"] for s in stages) / MB,
            shuffle_write_mb=sum(s["shuffleWriteBytes"] for s in stages) / MB,
            output_mb=sum(s["outputBytes"] for s in stages) / MB,
            spill_mb=sum(s["diskBytesSpilled"] for s in stages) / MB,
            failed_tasks=sum(s["numFailedTasks"] for s in stages),
            sql_execs=len(execs),
        )
        for st in stages:
            for k, v in py_by_stage.get(st["stageId"], {}).items():
                c[k] += v
        # the part of the span's wall that no Spark job covers
        covered, end = 0.0, sp["t0"]
        for j in sorted(jobs, key=lambda j: j["submissionTime"]):
            a = max(j["submissionTime"] / 1e3, end)
            b = min((j.get("completionTime") or j["submissionTime"]) / 1e3,
                    sp["t1"])
            if b > a:
                covered += b - a
                end = b
        c["driver_gap_s"] = max(0.0, wall - covered)
        return c


def _tasks(stage: dict) -> int:
    return (stage["numCompleteTasks"] + stage["numFailedTasks"]
            + stage["numKilledTasks"])


def phase_table(spans: list) -> dict:
    """Per phase name: the median wall and the mean of every other
    counter over the phase's spans, plus the span count ``n``."""
    groups: dict = {}
    for sp in spans:
        if "c" in sp:
            groups.setdefault(sp["name"], []).append(sp["c"])
    out = {}
    for name, cs in groups.items():
        row = {k: sum(c[k] for c in cs) / len(cs) for k in COUNTERS}
        row["wall_s"] = statistics.median(c["wall_s"] for c in cs)
        row["n"] = len(cs)
        out[name] = row
    return out

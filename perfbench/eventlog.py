"""Per-pass execution counters from Spark's event log.

The workload tags every job with the local properties ``perfbench.pass``
and ``perfbench.phase``; stages and tasks are attributed to the pass of
the job that first listed them.
"""

from __future__ import annotations

import json
from collections import defaultdict

MB = 1024 * 1024
# RDD scopes of operators that run Python workers
PYTHON_SCOPES = ("Python", "Pandas", "Arrow")


def _runs_python(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", ()):
        if rdd.get("Name") == "PythonRDD":
            return True
        scope = json.loads(rdd.get("Scope") or "{}").get("name", "")
        if any(s in scope for s in PYTHON_SCOPES):
            return True
    return False


def summarize(path: str) -> dict[str, dict]:
    """pass label -> counters (jobs, eager_jobs, stages, tasks, ...)."""
    out = defaultdict(lambda: defaultdict(float))
    job_of_stage, label_of_job, python_stage = {}, {}, set()
    with open(path) as f:
        events = [json.loads(line) for line in f]
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            label = props.get("perfbench.pass", "none")
            label_of_job[ev["Job ID"]] = label
            out[label]["jobs"] += 1
            if props.get("perfbench.phase") == "construct":
                out[label]["eager_jobs"] += 1
            for sid in ev["Stage IDs"]:
                job_of_stage.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            label = label_of_job.get(job_of_stage.get(info["Stage ID"]), "none")
            out[label]["stages"] += 1
            if _runs_python(info):
                python_stage.add(info["Stage ID"])
    for ev in events:
        if ev["Event"] != "SparkListenerTaskEnd":
            continue
        sid = ev["Stage ID"]
        c = out[label_of_job.get(job_of_stage.get(sid), "none")]
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics", {})
        sr = m.get("Shuffle Read Metrics", {})
        inp = m.get("Input Metrics", {})
        c["tasks"] += 1
        c["python_tasks"] += sid in python_stage
        c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        c["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                 + sr.get("Local Bytes Read", 0)) / MB
        c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
        c["input_mb"] += inp.get("Bytes Read", 0) / MB
        c["input_rows"] += inp.get("Records Read", 0)
    return {k: dict(v) for k, v in out.items()}

"""Benchmark workload, run as a user script through the package's runner:

    python -m dask_ssh_docker_spark.runner --master local[N] ... \
        perfbench/workload.py -- CONFIG.json

``run.py`` writes CONFIG.json and reads back ``result.json`` from the
run's output directory.  The script

1. finishes one trivial job (the end of set-up);
2. runs the first (cold) pass, which hands every output back to the
   driver and saves it for ``checks.py``;
3. runs the workload's untimed warm-up passes, if any, to the ``noop`` sink;
4. runs timed passes to the ``noop`` sink until ``seconds`` have passed,
   always whole passes.

A pass makes every call of the workload once: a registry query by name,
a call this file defines (``CALLS``), or one ``task_graph`` gather.  A
failing call is counted and the pass goes on.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import procstat


def _rerank_custom_qid(spark):
    """``pq_topk_rerank`` with a non-default query-id column, on fixed
    inputs that do not depend on the seed."""
    import numpy as np

    from dask_ssh_docker_spark.operators.pq import (
        pq_encode,
        pq_topk_rerank,
        train_pq_codebooks,
    )

    vecs = np.random.default_rng(0).normal(size=(68, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    corpus = spark.createDataFrame(rows[4:], "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(rows[:4], "qid long, query_vec array<float>")
    cb = train_pq_codebooks(corpus, m=16, ks=16, dim=64, iters=2)
    idx = pq_encode(corpus, cb, m=16, dim=64)
    return pq_topk_rerank(queries, idx, cb, corpus, k=5, expand=2, ks=16,
                          m=16, dim=64, query_id="qid")


CALLS = {"rerank_custom_qid": _rerank_custom_qid}


class Workload:
    def __init__(self, spark, cfg: dict, tracer):
        self.spark, self.cfg, self.tracer = spark, cfg, tracer
        self.sc = spark.sparkContext
        self.out_dir = cfg["out_dir"]
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.graph_values: list[int] = []
        if cfg["workload"] == "task_graph":
            import numpy as np
            import pyarrow.parquet as papq
            from pyspark import cloudpickle

            import graph
            from dask_ssh_docker_spark.futures import Client

            # ship the graph's task functions by value: workers cannot
            # import the benchmark's files
            cloudpickle.register_pickle_by_value(graph)
            self.graph = graph
            self.client = Client(spark)
            self.x = np.asarray(
                papq.read_table(os.path.join(cfg["data_dir"], "array.parquet"))["x"]
            )
            self.registry = {}
            self.ops = ["gather"] * cfg["calls_per_pass"]
        else:
            from dask_ssh_docker_spark.queries import REGISTRY

            self.registry = REGISTRY
            self.ops = cfg["calls"]

    # -- one call ------------------------------------------------------------

    def _phase(self, label: str, phase: str) -> None:
        self.sc.setLocalProperty("perfbench.pass", label)
        self.sc.setLocalProperty("perfbench.phase", phase)
        if self.tracer:
            self.tracer.STATE.pass_label = label
            self.tracer.STATE.constructing = phase == "construct"

    def _construct(self, name: str):
        if name == "gather":
            return self.graph.submit_graph(self.client, self.x, self.cfg["width"])
        if name in CALLS:
            return CALLS[name](self.spark)
        return self.registry[name].fn(self.spark, self.cfg["data_dir"])

    def _execute(self, name: str, built, collect: bool) -> None:
        if name == "gather":
            self.graph_values.append(self.client.gather(built))
        elif collect and name in self.registry:
            built.toPandas().to_pickle(os.path.join(self.out_dir, f"{name}.pkl"))
        else:
            built.write.format("noop").mode("overwrite").save()

    def call(self, label: str, name: str, collect: bool) -> dict:
        self.attempted += 1
        rec = {"op": name, "construct_s": 0.0, "execute_s": 0.0, "ok": True}
        self._phase(label, "construct")
        t0 = time.monotonic()
        step = "construct_s"
        try:
            built = self._construct(name)
            t1 = time.monotonic()
            rec["construct_s"], step = t1 - t0, "execute_s"
            self._phase(label, "execute")
            self._execute(name, built, collect)
            rec["execute_s"] = time.monotonic() - t1
        except Exception as e:  # a failing call is counted; the run goes on
            rec[step] = time.monotonic() - t0 - rec["construct_s"]
            self.failed += 1
            rec["ok"] = False
            msg = f"{label} {rec['op']}: {type(e).__name__}: {str(e).strip().splitlines()[0][:300]}"
            self.errors.append(msg)
            print(msg, file=sys.stderr)
            traceback.print_exc(limit=3)
        finally:
            self._phase(label, "idle")
        return rec

    # -- one pass ------------------------------------------------------------

    def run_pass(self, label: str, collect: bool = False) -> dict:
        root = os.getpid()
        cpu0, workers0 = procstat.cpu_s(root)
        t0 = time.monotonic()
        calls = [self.call(label, name, collect) for name in self.ops]
        wall = time.monotonic() - t0
        cpu1, workers1 = procstat.cpu_s(root)
        rec = {
            "label": label,
            "wall_s": wall,
            "cpu_s": cpu1 - cpu0,
            "worker_cpu_s": workers1 - workers0,
            "rss_mb": procstat.peak_rss_mb(root),
            "calls": calls,
        }
        if self.tracer:
            rec["trace"] = self.tracer.pass_record(label)
        print(f"[perfbench] {label}: {wall:.2f} s", file=sys.stderr, flush=True)
        return rec


def main(argv: list[str]) -> int:
    with open(argv[0]) as f:
        cfg = json.load(f)
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    t_job = time.monotonic()
    spark.range(1).count()
    ready = time.monotonic()
    tracer = sys.modules.get("tracing")
    result = {
        # the run's processes all started at launch, so the tree's CPU so
        # far is the CPU of set-up
        "setup_cpu_s": procstat.cpu_s(os.getpid())[0],
        "setup_s": ready - cfg["t_launch"],
        "first_job_s": ready - t_job,
        "session_start_s": tracer.STATE.session_start_s if tracer else None,
        "app_id": spark.sparkContext.applicationId,
    }
    wl = Workload(spark, cfg, tracer)
    passes = [wl.run_pass("first", collect=True)]
    if not cfg["smoke"]:
        for i in range(cfg["warmup"]):
            passes.append(wl.run_pass(f"warmup{i}"))
        t0 = time.monotonic()
        while True:
            passes.append(wl.run_pass(f"timed{len(passes)}"))
            if time.monotonic() - t0 >= cfg["seconds"]:
                break
    result.update(
        passes=passes,
        attempted=wl.attempted,
        failed=wl.failed,
        errors=wl.errors,
        graph_values=wl.graph_values,
        oracles={n: wl.registry[n].oracle for n in wl.ops if n in wl.registry},
    )
    with open(os.path.join(cfg["out_dir"], "result.json"), "w") as f:
        json.dump(result, f)
    return 0

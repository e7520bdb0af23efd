"""spark-graft benchmark: one workload, one seed, one fresh runner process.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload curation --seed 1 --smoke

Run from the root of a source checkout.  The run generates (or reuses)
its seeded inputs under ``.perfbench_cache/``, launches
``python -m dask_ssh_docker_spark.runner`` on ``local[n]`` with
``perfbench/workload.py`` as the user script, waits until the whole
process tree has exited, checks every collected output against
computations made apart from the program (``checks.py``), and prints one
JSON line: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` relaunches
through ``traced_runner.py`` and reports the per-layer metrics.
``--smoke`` runs tiny inputs, one pass, every check.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import procstat  # noqa: E402

WORKLOADS = {
    "analytics": {
        "data": "relational", "scale": 0.01, "smoke_scale": 0.002, "warmup": 0,
        "calls": ["q1_pricing_summary", "q3_top_unshipped_orders",
                  "q5_region_revenue", "q6_forecast_revenue", "q9_product_profit",
                  "q21_waiting_supplier", "asof_backward", "interpolate_time_linear",
                  "cdc_merge_upsert", "stream_mv_user_totals",
                  "stream_interval_join_pairs"],
    },
    "curation": {
        "data": "corpus", "scale": 0.01, "smoke_scale": 0.002, "warmup": 0,
        "calls": ["dedup_exact_groups", "dedup_minhash_clusters",
                  "dedup_semantic_semdedup", "text_quality",
                  "sim_topk_pq", "sim_topk_ivfpq",
                  # fails every time: see README, "Workloads"
                  "rerank_custom_qid"],
    },
    "task_graph": {
        "data": "array", "scale": 200_000, "smoke_scale": 1_000, "warmup": 1,
        "width": 8, "calls_per_pass": 2,
    },
}


def _metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


END_TO_END, PER_LAYER = _metric_units()
RUN_LIMIT_S = 170  # the whole run, set-up to result line
MV_STAGING = "/tmp/spark_graft_mv_slices_*"  # written by stream_mv_user_totals


def _cpus() -> int:
    return max(1, min(3, len(os.sched_getaffinity(0))))


def _du_mb(*dirs: str) -> float:
    total = 0
    for d in dirs:
        for base, _, files in os.walk(d):
            for f in files:
                try:
                    total += os.lstat(os.path.join(base, f)).st_size
                except OSError:
                    pass
    return total / (1024 * 1024)


def _wait_tree(proc: subprocess.Popen, deadline: float) -> None:
    """Wait for the runner and every process of its session to end."""
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        pass
    sid = proc.pid
    grace = time.monotonic() + 20
    while procstat.session_pids(sid):
        if time.monotonic() > min(grace, deadline):
            for pid in procstat.session_pids(sid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            grace = deadline = time.monotonic() + 10
        time.sleep(0.1)
    proc.wait()


def launch(root: str, run_dir: str, cfg: dict, trace: bool, deadline: float) -> dict:
    """One runner process; returns the workload's result.json."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "ckpt", "events", "out")}
    for d in dirs.values():
        os.makedirs(d)
    cfg = dict(cfg, out_dir=dirs["out"])
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
        "spark.checkpoint.dir": dirs["ckpt"],
        "spark.sql.streaming.checkpointLocation": os.path.join(dirs["ckpt"], "streams"),
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + dirs["events"],
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    env = dict(os.environ, TMPDIR=dirs["tmp"], SPARK_LOCAL_DIRS=dirs["local"],
               PYTHONPATH=os.pathsep.join(
                   [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]))
    head = ([sys.executable, os.path.join(HERE, "traced_runner.py")] if trace
            else [sys.executable, "-m", "dask_ssh_docker_spark.runner"])
    cmd = head + ["--master", f"local[{_cpus()}]"]
    for k, v in conf.items():
        cmd += ["--conf", f"{k}={v}"]
    cfg_path = os.path.join(run_dir, "config.json")
    log = open(os.path.join(run_dir, "runner.log"), "w")
    try:
        cfg["t_launch"] = time.monotonic()
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        proc = subprocess.Popen(cmd + [os.path.join(HERE, "workload.py"), "--", cfg_path],
                                cwd=run_dir, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        _wait_tree(proc, deadline)
    finally:
        log.close()
    result_path = os.path.join(dirs["out"], "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "runner.log")) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"runner exited with {proc.returncode}:\n{tail}")
    with open(result_path) as f:
        result = json.load(f)
    result["tmp_left_mb"] = _du_mb(dirs["tmp"], dirs["local"], dirs["ckpt"])
    logs = glob.glob(os.path.join(dirs["events"], "*"))
    result["events"] = eventlog.summarize(logs[0]) if logs else {}
    return result


def check(name: str, spec: dict, data_dir: str, out_dir: str, result: dict) -> tuple[list, dict]:
    """(problems, recall figures) for one run's outputs."""
    if name == "task_graph":
        return checks.task_graph(result["graph_values"], data_dir, spec["width"]), {}
    problems = checks.oracle(out_dir, data_dir, result["oracles"])
    figures = {}
    if name == "curation":
        recalls = []
        for q in ("sim_topk_pq", "sim_topk_ivfpq"):
            r, p = checks.ann_recall(out_dir, data_dir, q)
            recalls.append(r)
            problems += p
        figures["ann_recall_at_10"] = min(recalls)
        figures["minhash_pair_recall"], p = checks.minhash(out_dir, data_dir)
        problems += p + checks.semdedup(out_dir, data_dir)
    return problems, figures


def _med(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def _timed(result: dict) -> list[dict]:
    return [p for p in result["passes"] if p["label"].startswith("timed")] or \
        result["passes"][:1]


def end_to_end(result: dict) -> dict:
    return {
        "setup_s": result["setup_cpu_s"],
        "first_pass_cpu_s": result["passes"][0]["cpu_s"],
        "cpu_s": _med(p["cpu_s"] for p in _timed(result)),
    }


def per_layer(name: str, result: dict, figures: dict) -> dict:
    timed = _timed(result)
    ev = [result["events"].get(p["label"], {}) for p in timed]
    tr = [p["trace"] for p in timed]

    def e(key):
        return _med(x.get(key, 0.0) for x in ev)

    def query_sum(key):
        return _med(sum(c[key] for c in p["calls"] if c["op"] in result["oracles"])
                    for p in timed)

    graph = name == "task_graph"
    n_calls = len(timed[0]["calls"])
    py_tasks = e("python_tasks")
    worker_cpu = _med(p["worker_cpu_s"] for p in timed)
    calls = [c["construct_s"] + c["execute_s"] for p in timed for c in p["calls"] if c["ok"]]
    return {
        "runner.setup_wall_s": result["setup_s"],
        "runner.first_pass_s": result["passes"][0]["wall_s"],
        "runner.pass_s": _med(p["wall_s"] for p in timed),
        "runner.call_p50_ms": _med(calls) * 1000,
        "session.start_s": result["session_start_s"],
        "session.first_job_s": result["first_job_s"],
        "session.peak_rss_mb": max(p["rss_mb"] for p in result["passes"]),
        "session.tmp_left_mb": result["tmp_left_mb"],
        "queries.construct_s": query_sum("construct_s"),
        "queries.execute_s": query_sum("execute_s"),
        "queries.eager_jobs": e("eager_jobs"),
        "queries.py4j_calls": _med(t["py4j_calls"] for t in tr),
        **{f"execution.{k}": e(k) for k in (
            "jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
            "shuffle_write_mb", "shuffle_read_mb", "spill_mb")},
        "sources.input_mb": e("input_mb"),
        "sources.input_rows": e("input_rows"),
        "functions.python_tasks": py_tasks,
        "functions.python_worker_cpu_s": worker_cpu,
        **{f"operators.{k}_s": _med(t["layer_s"].get(k, 0.0) for t in tr)
           for k in ("dedup", "ann", "timeseries", "cdc")},
        "operators.ann_recall_at_10": figures.get("ann_recall_at_10", 0.0),
        "operators.minhash_pair_recall": figures.get("minhash_pair_recall", 0.0),
        "streaming.query_s": _med(t["stream_query_s"] for t in tr),
        "streaming.batches": _med(t["stream_batches"] for t in tr),
        "streaming.input_rows": _med(t["stream_input_rows"] for t in tr),
        "streaming.state_rows": _med(t["stream_state_rows"] for t in tr),
        "delayed.jobs_per_call": e("jobs") / n_calls if graph else 0.0,
        "delayed.tasks_per_call": e("tasks") / n_calls if graph else 0.0,
        "delayed.worker_cpu_ms_per_task": 1000 * worker_cpu / py_tasks if py_tasks else 0.0,
        "futures.live_broadcasts": _med(t["live_broadcasts"] for t in tr),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one pass, every check")
    args = ap.parse_args(argv)
    start = time.monotonic()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dask_ssh_docker_spark", "runner.py")):
        print("run from the root of a spark-graft checkout "
              "(dask_ssh_docker_spark/ not found)", file=sys.stderr)
        return 2
    spec = WORKLOADS[args.workload]
    scale = spec["smoke_scale"] if args.smoke else spec["scale"]
    data_dir = gen.ensure(os.path.join(root, ".perfbench_cache"), spec["data"],
                          args.seed, scale)
    run_dir = os.path.join(root, ".perfbench_runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    staged_before = set(glob.glob(MV_STAGING))
    cfg = {k: v for k, v in spec.items() if k not in ("data", "scale", "smoke_scale")}
    cfg.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
               smoke=args.smoke, data_dir=data_dir)
    try:
        result = launch(root, run_dir, cfg, bool(args.trace), start + RUN_LIMIT_S)
        problems, figures = check(args.workload, spec, data_dir,
                                  os.path.join(run_dir, "out"), result)
    except RuntimeError as e:
        print(f"run failed: {e}", file=sys.stderr)
        return 1
    finally:
        # stream_mv_user_totals stages its input under a fixed /tmp path;
        # remove what this run created so every run pays the same first pass
        for path in set(glob.glob(MV_STAGING)) - staged_before:
            shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems + result["errors"]:
        print(p, file=sys.stderr)
    for p in result["passes"]:  # per-call wall times, for reading a run by eye
        print(f"{p['label']:>8} {p['wall_s']:7.2f} s {p['cpu_s']:6.2f} cpu-s: " + " ".join(
            f"{c['op']}={c['construct_s'] + c['execute_s']:.2f}" for c in p["calls"]),
            file=sys.stderr)
    if args.trace:
        values, units = per_layer(args.workload, result, figures), PER_LAYER
    else:
        values, units = end_to_end(result), END_TO_END
    print(json.dumps({
        "correct": not problems,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

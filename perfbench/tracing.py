"""Layer hooks for the traced run, installed from the benchmark's own files.

``install()`` runs before the runner builds the session and before
``dask_ssh_docker_spark.queries`` is imported, so every later lookup of a
wrapped function finds the wrapper.  It

- times ``session.get_session``;
- times the public functions of the operator modules, grouped into the
  ``dedup``, ``ann``, ``timeseries`` and ``cdc`` layers (outermost call
  per layer and thread only, so nested calls are not counted twice);
- counts py4j commands the driver's main thread sends while a query is
  being constructed (object-release commands from py4j's finalizer are
  not counted: their timing follows Python's garbage collector);
- records each streaming query's start, termination and progress;
- records broadcasts made by ``futures.Client.scatter`` and those
  destroyed again.

Counters are kept per pass label, which the workload sets.
"""

from __future__ import annotations

import functools
import importlib
import operator
import sys
import threading
import time
from collections import defaultdict

LAYERS = {
    "dedup": ("dedup", "substring", "setsim", "bloomjoin", "semdedup"),
    "ann": ("similarity", "ivf", "pq", "ivfpq"),
    "timeseries": ("asof", "interpolate", "rollup_cascade", "seqbucket"),
    "cdc": ("cdc",),
}


class State:
    def __init__(self):
        self.pass_label = "setup"
        self.constructing = False
        self.main = threading.get_ident()
        self.session_start_s = None
        self.layer_s = defaultdict(lambda: defaultdict(float))
        self.py4j = defaultdict(int)
        self.streams = defaultdict(list)  # label -> [[query, t_start, t_end]]
        self.scattered = defaultdict(list)  # label -> [Broadcast]
        self.destroyed: set[int] = set()
        self.local = threading.local()


STATE = State()


class Timed:
    """Callable stand-in for a public operator function.  Pickles as the
    original function, so closures shipped to Python workers never need
    this module."""

    def __init__(self, fn, layer):
        functools.update_wrapper(self, fn)
        self.fn, self.layer = fn, layer

    def __call__(self, *args, **kwargs):
        active = STATE.local.__dict__.setdefault("active", set())
        if self.layer in active:
            return self.fn(*args, **kwargs)
        active.add(self.layer)
        label, t0 = STATE.pass_label, time.monotonic()
        try:
            return self.fn(*args, **kwargs)
        finally:
            STATE.layer_s[label][self.layer] += time.monotonic() - t0
            active.discard(self.layer)

    def __reduce__(self):
        return operator.itemgetter(0), ([self.fn],)


def _wrap_operators() -> None:
    import inspect

    originals = {}
    for layer, mods in LAYERS.items():
        for short in mods:
            mod = importlib.import_module(f"dask_ssh_docker_spark.operators.{short}")
            for name, obj in list(vars(mod).items()):
                if (not name.startswith("_") and inspect.isfunction(obj)
                        and obj.__module__ == mod.__name__):
                    originals[id(obj)] = Timed(obj, layer)
    # re-exports (``from .dedup import minhash_dedup``) point at the same
    # function objects: swap every reference the package holds
    for modname, mod in list(sys.modules.items()):
        if mod is None or not modname.startswith("dask_ssh_docker_spark"):
            continue
        for name, obj in list(vars(mod).items()):
            wrapper = originals.get(id(obj))
            if wrapper is not None and wrapper.fn is obj:
                setattr(mod, name, wrapper)


def _wrap_session() -> None:
    from dask_ssh_docker_spark import session

    original = session.get_session

    @functools.wraps(original)
    def get_session(*args, **kwargs):
        t0 = time.monotonic()
        spark = original(*args, **kwargs)
        if STATE.session_start_s is None:
            STATE.session_start_s = time.monotonic() - t0
        return spark

    session.get_session = get_session


def _wrap_py4j() -> None:
    from py4j.java_gateway import GatewayClient

    original = GatewayClient.send_command

    def send_command(self, command, *args, **kwargs):
        if (STATE.constructing and threading.get_ident() == STATE.main
                and not command.startswith("m\n")):
            STATE.py4j[STATE.pass_label] += 1
        return original(self, command, *args, **kwargs)

    GatewayClient.send_command = send_command


def _wrap_streaming() -> None:
    from pyspark.sql.streaming.query import StreamingQuery
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    start, await_term = DataStreamWriter.start, StreamingQuery.awaitTermination

    def started(self, *args, **kwargs):
        t0 = time.monotonic()
        q = start(self, *args, **kwargs)
        STATE.streams[STATE.pass_label].append([q, t0, None])
        return q

    def awaited(self, *args, **kwargs):
        out = await_term(self, *args, **kwargs)
        for rec in (r for rs in STATE.streams.values() for r in rs):
            if rec[0] is self and rec[2] is None:
                rec[2] = time.monotonic()
        return out

    DataStreamWriter.start = started
    StreamingQuery.awaitTermination = awaited


def _wrap_broadcasts() -> None:
    from pyspark.broadcast import Broadcast

    from dask_ssh_docker_spark.futures import Client

    scatter, destroy = Client.scatter, Broadcast.destroy

    def scattered(self, data):
        refs = scatter(self, data)
        for ref in refs if isinstance(refs, list) else [refs]:
            STATE.scattered[STATE.pass_label].append(ref.bc)
        return refs

    def destroyed(self, *args, **kwargs):
        STATE.destroyed.add(id(self))
        return destroy(self, *args, **kwargs)

    Client.scatter = scattered
    Broadcast.destroy = destroyed


def install() -> None:
    _wrap_session()
    _wrap_operators()
    _wrap_py4j()
    _wrap_streaming()
    _wrap_broadcasts()
    if "dask_ssh_docker_spark.queries" in sys.modules:
        raise RuntimeError("queries imported before the trace hooks")


def pass_record(label: str) -> dict:
    """Per-layer figures the hooks gathered during pass ``label``."""
    streams = STATE.streams.get(label, [])
    batches = rows = state_rows = 0
    query_s = 0.0
    for q, t0, t1 in streams:
        progress = q.recentProgress
        batches += len(progress)
        rows += sum(p.numInputRows for p in progress)
        # peak over batches: the last, no-data batch of an availableNow
        # stream may already have evicted the state past the watermark
        state_rows += max((sum(op.numRowsTotal for op in p.stateOperators)
                           for p in progress), default=0)
        query_s += (t1 or time.monotonic()) - t0
    bcs = STATE.scattered.get(label, [])
    return {
        "layer_s": dict(STATE.layer_s.get(label, {})),
        "py4j_calls": STATE.py4j.get(label, 0),
        "stream_query_s": query_s,
        "stream_batches": batches,
        "stream_input_rows": rows,
        "stream_state_rows": state_rows,
        "live_broadcasts": sum(id(b) not in STATE.destroyed for b in bcs),
    }

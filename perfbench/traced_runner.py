"""``python -m dask_ssh_docker_spark.runner`` with the layer hooks of
``tracing.py`` installed first.  Takes the runner's own arguments."""

import os
import runpy
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import tracing  # noqa: E402

tracing.install()
runpy.run_module("dask_ssh_docker_spark.runner", run_name="__main__", alter_sys=True)

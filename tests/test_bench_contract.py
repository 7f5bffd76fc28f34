"""The benchmark's contract with the package, checked without Spark.

``perfbench`` wraps layer methods by name (``tracing.LAYER_CALLS``) and
constructs both frontends with fixed keywords; a rename or a dropped
parameter in the package would break the benchmark only when it runs.
"""

import ast
import importlib
import importlib.util
import inspect
import os

import pytest

from debezium_connector_db2_spark.streaming.engine import CdcEngine
from debezium_connector_db2_spark.streaming.stream import StreamingCdc

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tracing():
    spec = importlib.util.spec_from_file_location(
        "perfbench_tracing", os.path.join(REPO_DIR, "perfbench", "tracing.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_traced_layer_calls_resolve():
    calls = _load_tracing().LAYER_CALLS
    assert calls
    for path, meth, _ in calls:
        mod, cls_name = path.rsplit(".", 1)
        cls = getattr(importlib.import_module(mod), cls_name)
        # tracing.install patches the method found in the class dict
        assert callable(cls.__dict__.get(meth)), f"{path}.{meth} is gone"


@pytest.mark.parametrize("script", ["perfbench/workloads.py", "bench.py"])
def test_frontend_constructors_accept_benchmark_calls(script):
    frontends = {"CdcEngine": CdcEngine, "StreamingCdc": StreamingCdc}
    with open(os.path.join(REPO_DIR, script)) as f:
        tree = ast.parse(f.read())
    calls = [n for n in ast.walk(tree)
             if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
             and n.func.id in frontends]
    assert {c.func.id for c in calls} == set(frontends)
    for c in calls:
        sig = inspect.signature(frontends[c.func.id])
        sig.bind(*[None] * len(c.args),
                 **{k.arg: None for k in c.keywords if k.arg is not None})

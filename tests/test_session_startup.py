"""``get_spark``'s start: it launches the driver JVM itself, then builds
the session while py4j threads initialize the Scala objects in
``session._WARM_UP`` beside it.

The unit tests drive one warm-up thread's body over a fake JVM. The
subprocess test starts one real driver: its JVM carries the launch
options of the builder's conf, no warm-up thread outlives the call, a
second call launches and starts nothing, and a step that names a class
the JVM lacks leaves a working session."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest
from py4j.protocol import Py4JJavaError

from etl_example_spark import session

ROOT = Path(__file__).resolve().parent.parent


def _java_error(java_class: str) -> Py4JJavaError:
    thrown = SimpleNamespace(
        _target_id="o1", getClass=lambda: SimpleNamespace(getName=lambda: java_class)
    )
    return Py4JJavaError("An error occurred while calling z:java.lang.Class.forName.", thrown)


class _FakeJvm:
    """``jvm.java.lang.Class.forName(name).getField("MODULE$").get(None)``
    over a dict of name -> object, or -> the Java class a load throws."""

    def __init__(self, classes: dict[str, object]):
        self.classes = classes
        java_class = SimpleNamespace(forName=self._for_name)
        self.java = SimpleNamespace(lang=SimpleNamespace(Class=java_class))

    def _for_name(self, name: str):
        found = self.classes[name]
        if isinstance(found, str):
            raise _java_error(found)
        field = SimpleNamespace(get=lambda _: found)
        return SimpleNamespace(getField=lambda f: field if f == "MODULE$" else None)


def test_a_missing_class_is_skipped_and_the_next_step_still_runs():
    calls = []
    jvm = _FakeJvm({
        "gone.Module$": "java.lang.ClassNotFoundException",
        "here.Module$": SimpleNamespace(build=lambda: calls.append("build")),
        "plain.Module$": SimpleNamespace(),
    })
    session._warm_up(
        jvm, (("gone.Module$", "build"), ("here.Module$", "build"), ("plain.Module$", None))
    )
    assert calls == ["build"]


def test_any_other_warm_up_error_propagates():
    jvm = _FakeJvm({"broken.Module$": "java.lang.ExceptionInInitializerError"})
    with pytest.raises(Py4JJavaError):
        session._warm_up(jvm, (("broken.Module$", None),))

    def fails():
        raise RuntimeError("member failed")

    jvm = _FakeJvm({"here.Module$": SimpleNamespace(build=fails)})
    with pytest.raises(RuntimeError, match="member failed"):
        session._warm_up(jvm, (("here.Module$", "build"),))


_DRIVER = """
import json, threading
import pyspark.core.context as context
from etl_example_spark import session

# the first step names a class this JVM does not have; the rest of its
# group still runs
session._WARM_UP = ((("org.example.NoSuchModule$", "build"),) + session._WARM_UP[0],
                    *session._WARM_UP[1:])
started = []
start = threading.Thread.start
def recording_start(self):
    started.append(self.name)
    return start(self)
threading.Thread.start = recording_start

spark = session.get_spark(
    app_name="startup-test",
    extra_conf={"spark.driver.extraJavaOptions": "-Detl.startup.test=yes -XX:-UsePerfData"},
)
first = {
    "threads": list(started),
    "alive": [t.name for t in threading.enumerate() if t.name.startswith(session._WARM_UP_THREAD)],
}
beans = spark._jvm.java.lang.management.ManagementFactory
jvm_args = list(beans.getRuntimeMXBean().getInputArguments())
gateway = context.SparkContext._gateway

started.clear()
def no_launch(conf=None, popen_kwargs=None):
    raise AssertionError("a second get_spark launched a JVM")
context.launch_gateway = no_launch
again = session.get_spark(app_name="startup-test")
print(json.dumps({
    "first": first,
    "jvm_args": jvm_args,
    "second_threads": started,
    "same": again is spark and context.SparkContext._gateway is gateway,
    "rows": again.range(100).count(),
}))
spark.stop()
"""


def test_one_launch_carries_the_builder_conf_and_leaves_no_thread(tmp_path):
    env = {
        **os.environ,
        "XDG_CACHE_HOME": str(tmp_path / "xdg"),
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    }
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER],
        capture_output=True, text=True, timeout=300, env=env, cwd=str(ROOT),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.splitlines()[-1])

    # spark.driver.memory and the caller's extraJavaOptions reach the JVM
    assert "-Xmx1g" in out["jvm_args"]
    assert {"-Detl.startup.test=yes", "-XX:-UsePerfData"} <= set(out["jvm_args"])
    # one thread per warm-up group, all ended by the time get_spark returns
    warm = [n for n in out["first"]["threads"] if n.startswith(session._WARM_UP_THREAD)]
    assert len(warm) == len(session._WARM_UP)
    assert out["first"]["alive"] == []
    # the second call reuses the session: no JVM, no thread
    assert out["second_threads"] == [] and out["same"] and out["rows"] == 100

"""The local session's driver JVM runs the flags ``session.get_spark``
gives it, and the ``spark-submit`` usage passes the same flags."""

from __future__ import annotations

import os
import re

from jobs import run_kg_pipeline
from src_to_kb_spark.session import DRIVER_JAVA_OPTIONS

from .conftest import REPO


def test_session_jvm_runs_c1_only(spark):
    """Read from the running JVM, not from the conf string."""
    jvm = spark._jvm
    mgmt = jvm.java.lang.management.ManagementFactory
    args = list(mgmt.getRuntimeMXBean().getInputArguments())
    assert "-XX:TieredStopAtLevel=1" in args
    hotspot = mgmt.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    assert hotspot.getVMOption("TieredStopAtLevel").getValue() == "1"


def test_spark_submit_usage_passes_the_driver_java_options():
    """A JVM that spark-submit launched never sees get_spark's conf."""
    flag = f'--driver-java-options "{DRIVER_JAVA_OPTIONS}"'
    with open(os.path.join(REPO, "README.md")) as f:
        readme = f.read()
    for text in (readme, run_kg_pipeline.__doc__):
        commands = re.findall(r"^\s*spark-submit --.*$", text, re.M)
        assert commands and all(flag in c for c in commands), commands

"""Session factory: the driver JIT profile and the host-derived heap."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from mdb_to_postgres_spark.session import DRIVER_JIT_OPTIONS, build_conf, default_driver_memory


def _vm_option(spark, name: str):
    jvm = spark._jvm
    bean_cls = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_cls)
    return bean.getVMOption(name)


def test_jit_profile_reaches_the_driver_jvm(spark):
    # The conftest session is assembled by build_conf, like get_session's.
    opt = _vm_option(spark, "Tier4InvocationThreshold")
    assert opt.getValue() == "150000"
    assert opt.getOrigin().toString() == "VM_CREATION"
    for flag in DRIVER_JIT_OPTIONS.split():
        name, value = flag[len("-XX:"):].split("=")
        assert _vm_option(spark, name).getValue() == value, flag


def test_jit_profile_keeps_caller_java_options():
    # Asserted on the assembled conf: the launcher prepends
    # defaultJavaOptions to extraJavaOptions, so both reach the JVM.
    caller = "-Dspark_graft.probe=1 -XX:+UseG1GC"
    builder = SparkSession.builder.config("spark.driver.extraJavaOptions", caller)
    options = build_conf(builder)._options
    assert options["spark.driver.extraJavaOptions"] == caller
    assert options["spark.driver.defaultJavaOptions"] == DRIVER_JIT_OPTIONS


def _meminfo(total_kb: int) -> str:
    return f"MemTotal:       {total_kb} kB\nMemFree:         1234567 kB\n"


@pytest.mark.parametrize(
    "meminfo, heap",
    [
        (_meminfo(16_079_616), "7g"),  # a 15 GB host: half, in whole GB
        (_meminfo(8 * 1024**2), "4g"),
        (_meminfo(48 * 1024**2), "24g"),  # capped
        (_meminfo(256 * 1024**2), "24g"),
        (_meminfo(1024**2), "1g"),  # floored
        ("", "24g"),  # unreadable /proc/meminfo
        ("MemFree: 1 kB\n", "24g"),  # no MemTotal line
    ],
)
def test_default_driver_memory(meminfo, heap):
    assert default_driver_memory(meminfo) == heap

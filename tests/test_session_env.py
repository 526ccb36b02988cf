"""Unit tests for the JAVA_TOOL_OPTIONS JVM thread sizing.

The hazard: a fragment written for a local[1] JVM leaking unchanged into a
later/child get_spark(cores=8) would cap an 8-core JVM at 2 GC threads —
the inverse of the ~20% win the sizing exists for. _size_jvm_threads tags
its own fragment with -Drtsa.gc.auto so it can re-size what IT wrote while
never touching a caller-provided thread or collector flag. One test
starts a bare ``java -version`` to show the JVM accepts the flags we leave
it with; only the last two need Spark: they read the compiler count and
the collector the live driver JVM runs with.
"""
from __future__ import annotations

import os
import re
import shutil
import subprocess

import pytest

from rtsa_spark.session import _JAVA_OPT_KEYS, _caller_java_opts, _size_jvm_threads


@pytest.fixture
def jto_env():
    saved = os.environ.get("JAVA_TOOL_OPTIONS")
    yield
    if saved is None:
        os.environ.pop("JAVA_TOOL_OPTIONS", None)
    else:
        os.environ["JAVA_TOOL_OPTIONS"] = saved


@pytest.fixture
def cpus(monkeypatch):
    """Pretend this process may use ``k`` CPUs."""
    def set_cpus(k: int) -> None:
        monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(k)))
    return set_cpus


def _hotspot_ergonomic_count(ncpu: int) -> int:
    """HotSpot's tiered CICompilerCount for ``ncpu`` CPUs
    (compilationPolicy.cpp: max(log2 n * log2 log2 n * 3/2, 2))."""
    log_cpu = ncpu.bit_length() - 1
    loglog_cpu = max(log_cpu, 1).bit_length() - 1
    return max(log_cpu * loglog_cpu * 3 // 2, 2)


def test_fresh_env_writes_tagged_fragment(jto_env):
    os.environ.pop("JAVA_TOOL_OPTIONS", None)
    _size_jvm_threads(8)
    v = os.environ["JAVA_TOOL_OPTIONS"]
    assert v.startswith("-Drtsa.gc.auto=8 -XX:+UseParallelGC -XX:ParallelGCThreads=8 ")
    assert "-XX:CICompilerCount=" in v
    # ParallelGC has no concurrent phase
    assert "ConcGCThreads" not in v


def test_own_stale_fragment_is_resized(jto_env, cpus):
    cpus(64)
    os.environ.pop("JAVA_TOOL_OPTIONS", None)
    _size_jvm_threads(1)
    assert "-XX:ParallelGCThreads=2" in os.environ["JAVA_TOOL_OPTIONS"]
    # same process OR a child that inherited the env: re-size, don't skip
    _size_jvm_threads(8)
    v = os.environ["JAVA_TOOL_OPTIONS"]
    assert "-XX:ParallelGCThreads=8" in v
    assert "ParallelGCThreads=2" not in v
    assert v.count("rtsa.gc.auto") == 1
    _size_jvm_threads(16)
    v = os.environ["JAVA_TOOL_OPTIONS"]
    assert "-XX:CICompilerCount=5" in v
    assert v.count("CICompilerCount") == 1
    assert v.count("UseParallelGC") == 1


def test_caller_provided_setting_is_never_touched(jto_env):
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:ParallelGCThreads=5 -Xmx2g"
    _size_jvm_threads(8)
    v = os.environ["JAVA_TOOL_OPTIONS"]
    assert v.startswith("-XX:ParallelGCThreads=5 -Xmx2g ")
    assert v.count("ParallelGCThreads") == 1
    assert "ConcGCThreads" not in v
    # a caller's GC thread count does not stop the collector choice
    assert "-XX:+UseParallelGC" in v
    # a caller's GC setting does not stop compiler sizing
    assert "-XX:CICompilerCount=" in v


def test_caller_compiler_count_is_never_touched(jto_env):
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:CICompilerCount=5"
    _size_jvm_threads(8)
    v = os.environ["JAVA_TOOL_OPTIONS"]
    assert v.startswith("-XX:CICompilerCount=5 ")
    assert v.count("CICompilerCount") == 1
    # a caller's compiler count does not stop GC sizing
    assert "-XX:+UseParallelGC -XX:ParallelGCThreads=8" in v


def test_caller_options_around_ours_survive_resize(jto_env):
    os.environ["JAVA_TOOL_OPTIONS"] = "-Xmx2g"
    _size_jvm_threads(4)
    os.environ["JAVA_TOOL_OPTIONS"] += " -XX:MaxMetaspaceSize=512m"
    _size_jvm_threads(8)
    v = os.environ["JAVA_TOOL_OPTIONS"]
    assert "-Xmx2g" in v
    assert "-XX:MaxMetaspaceSize=512m" in v
    assert "-XX:ParallelGCThreads=8" in v
    assert "ParallelGCThreads=4" not in v


def test_spark_conf_thread_flags_are_caller_owned(jto_env):
    # a caller's -XX:ParallelGCThreads=1 in spark.driver.extraJavaOptions
    # owns the GC thread group: under G1, a ConcGCThreads above it makes
    # the JVM refuse to start ("ConcGCThreads (2) must be less than or
    # equal to ParallelGCThreads")
    os.environ.pop("JAVA_TOOL_OPTIONS", None)
    conf = {"spark.driver.extraJavaOptions": "-Xss4m -XX:ParallelGCThreads=1"}
    assert "-XX:ParallelGCThreads=1" in _caller_java_opts(conf)
    _size_jvm_threads(4, _caller_java_opts(conf))
    v = os.environ["JAVA_TOOL_OPTIONS"]
    assert "GCThreads" not in v
    assert "-XX:CICompilerCount=2" in v
    # per group: a compiler count in the defaults keeps GC sizing
    os.environ.pop("JAVA_TOOL_OPTIONS", None)
    conf = {"spark.driver.defaultJavaOptions": "-XX:CICompilerCount=4"}
    _size_jvm_threads(4, _caller_java_opts(conf))
    v = os.environ["JAVA_TOOL_OPTIONS"]
    assert "CICompilerCount" not in v
    assert "-XX:+UseParallelGC -XX:ParallelGCThreads=4" in v


def test_conf_options_without_thread_flags_keep_the_fragment(jto_env):
    os.environ.pop("JAVA_TOOL_OPTIONS", None)
    _size_jvm_threads(4)
    bare = os.environ["JAVA_TOOL_OPTIONS"]
    os.environ.pop("JAVA_TOOL_OPTIONS", None)
    conf = {"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/w/tmp -XX:-UsePerfData"}
    _size_jvm_threads(4, _caller_java_opts(conf))
    assert os.environ["JAVA_TOOL_OPTIONS"] == bare


@pytest.mark.parametrize("collector", ["-XX:+UseG1GC", "-XX:+UseSerialGC"])
@pytest.mark.parametrize(
    "where", ["JAVA_TOOL_OPTIONS", *sorted(_JAVA_OPT_KEYS)]
)
def test_caller_collector_suppresses_ours(jto_env, where, collector):
    # HotSpot refuses two collectors ("Multiple garbage collectors selected")
    os.environ.pop("JAVA_TOOL_OPTIONS", None)
    conf = {}
    if where == "JAVA_TOOL_OPTIONS":
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Xss4m {collector}"
    else:
        conf[where] = f"-Xss4m {collector}"
    _size_jvm_threads(4, _caller_java_opts(conf))
    v = os.environ["JAVA_TOOL_OPTIONS"]
    assert "UseParallelGC" not in v
    # kept where the caller put it, never copied into the env from conf
    assert v.count(collector) == (where == "JAVA_TOOL_OPTIONS")
    # the collector group does not stop thread sizing
    assert "-XX:ParallelGCThreads=4" in v
    assert "-XX:CICompilerCount=2" in v


def _java_starts(*args: str) -> subprocess.CompletedProcess:
    """``java <args> -version`` under this process's JAVA_TOOL_OPTIONS."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if java is None:
        pytest.skip("no java executable")
    return subprocess.run(
        [java, *args, "-XX:+PrintFlagsFinal", "-version"],
        capture_output=True, text=True, timeout=60,
    )


def _flag_on(out: str, flag: str) -> bool:
    return re.search(rf"\b{flag}\s+= true\b", out) is not None


def test_caller_collector_on_the_command_line_still_starts(jto_env):
    # our fragment alone selects ParallelGC
    os.environ.pop("JAVA_TOOL_OPTIONS", None)
    _size_jvm_threads(4)
    run = _java_starts()
    assert run.returncode == 0, run.stderr
    assert _flag_on(run.stdout, "UseParallelGC")
    # a caller's G1 in the conf the JVM reads after JAVA_TOOL_OPTIONS:
    # with our collector flag too, the JVM exits "Multiple garbage
    # collectors selected"
    os.environ.pop("JAVA_TOOL_OPTIONS", None)
    conf = {"spark.driver.extraJavaOptions": "-XX:+UseG1GC"}
    _size_jvm_threads(4, _caller_java_opts(conf))
    run = _java_starts("-XX:+UseG1GC")
    assert run.returncode == 0, run.stderr
    assert _flag_on(run.stdout, "UseG1GC")
    assert not _flag_on(run.stdout, "UseParallelGC")


@pytest.mark.parametrize("n", [1, 2])
def test_compiler_count_never_below_two(jto_env, cpus, n):
    # HotSpot refuses "CICompilerCount (1) must be at least 2" and exits
    cpus(64)
    os.environ.pop("JAVA_TOOL_OPTIONS", None)
    _size_jvm_threads(n)
    assert "-XX:CICompilerCount=2" in os.environ["JAVA_TOOL_OPTIONS"]


def test_compiler_count_rule_only_lowers_hotspot_default(jto_env, cpus):
    # one C1 plus one C2 thread per four cores, n capped by usable CPUs
    want = {3: 2, 4: 2, 7: 2, 8: 3, 16: 5, 32: 9}
    for n, count in want.items():
        cpus(n)
        os.environ.pop("JAVA_TOOL_OPTIONS", None)
        _size_jvm_threads(n)
        assert f"-XX:CICompilerCount={count}" in os.environ["JAVA_TOOL_OPTIONS"]
        assert count <= _hotspot_ergonomic_count(n)
    assert [_hotspot_ergonomic_count(k) for k in (4, 8, 16, 32)] == [3, 4, 12, 15]
    cpus(4)
    _size_jvm_threads(32)
    v = os.environ["JAVA_TOOL_OPTIONS"]
    assert "-XX:CICompilerCount=2" in v
    # GC threads follow the requested cores, as before
    assert "-XX:ParallelGCThreads=32" in v


def test_live_driver_jvm_runs_sized_compiler_count(spark):
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    live = int(bean.getVMOption("CICompilerCount").getValue())
    # conftest's session is get_spark(cores=8)
    assert live == 1 + max(1, min(8, len(os.sched_getaffinity(0))) // 4)


def test_live_driver_jvm_runs_parallel_gc(spark):
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    assert sorted(b.getName() for b in beans) == ["PS MarkSweep", "PS Scavenge"]

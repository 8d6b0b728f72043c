"""``get_spark``'s class-data archive (AppCDS) and process hygiene.

Each case starts fresh Python processes, each launching its own driver
JVM, with ``XDG_CACHE_HOME`` (where the archive lives) and the
temporary dirs inside the test's tmp dir. The first process on a cold
cache records the classes its JVM loads and, at its exit, builds,
checks and publishes the archive; the next one maps it. Every fallback
— a truncated dump, an archive for another class path, a conf dir with
real files, an existing JVM, an unwritable cache — starts Spark as it
would without the archive, and files a dead process left in the cache
are removed by the next session.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from pig_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAPPED = "source: shared objects file (top)"  # -Xlog:class+load: a class from the archive

_CHILD = r"""
import json, os, sys
from pig_spark.session import get_spark
spark = get_spark("cds_test", master="local[1]", extra_conf={"spark.driver.extraJavaOptions": sys.argv[1]})
runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
out = {
    "sum": spark.range(5).selectExpr("sum(id) AS s").first()["s"],
    "args": list(runtime.getInputArguments()),
    "classpath": spark._jvm.System.getProperty("java.class.path"),
}
spark.stop()
print(json.dumps(out), flush=True)
if sys.argv[2] == "exit":  # skip the exit handlers: no archive is built
    os._exit(0)
"""


def _start(cache, tmp, log=None, build=True, env=None) -> dict:
    """One fresh process: get_spark, a job, stop, exit (building the
    archive when it recorded and ``build``). Returns the job's answer,
    the JVM's input arguments and class path."""
    os.makedirs(tmp)
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData" + (f" -Xlog:class+load:file={log}" if log else "")
    child_env = {**os.environ, "XDG_CACHE_HOME": str(cache), "TMPDIR": str(tmp), "SPARK_LOCAL_DIRS": str(tmp), **(env or {})}
    r = subprocess.run(
        [sys.executable, "-c", _CHILD, opts, "" if build else "exit"],
        cwd=ROOT, env=child_env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["sum"] == 10
    return out


def _cds(cache) -> str:
    return os.path.join(cache, "pig_spark", "cds")


def _mapped(log) -> int:
    with open(log, encoding="utf-8", errors="replace") as f:
        return sum(MAPPED in line for line in f)


def _archive_options(args: list[str]) -> list[str]:
    return [a for a in args if a.startswith(("-XX:SharedArchiveFile", "-XX:DumpLoadedClassList"))]


@pytest.fixture(scope="module")
def warm(tmp_path_factory):
    """A cache after two processes: the first recorded its classes and
    built the archive at exit, the second mapped it. The archive
    (~140 MB) is removed afterwards."""
    base = tmp_path_factory.mktemp("cds")
    cache, cds = base / "cache", _cds(base / "cache")
    first = _start(cache, base / "t1")
    [archive] = glob.glob(os.path.join(cds, "*.jsa"))
    key = os.path.basename(archive)[: -len(".jsa")]
    second = _start(cache, base / "t2", log=base / "classload.txt")
    yield SimpleNamespace(base=base, cds=cds, key=key, first=first, second=second, log=base / "classload.txt")
    shutil.rmtree(base, ignore_errors=True)


def test_first_session_records_and_the_next_maps(warm):
    archive = os.path.join(warm.cds, warm.key + ".jsa")
    [record] = _archive_options(warm.first["args"])
    assert record.startswith(f"-XX:DumpLoadedClassList={warm.cds}{os.sep}{warm.key}.") and record.endswith(".classlist")
    assert _archive_options(warm.second["args"]) == [f"-XX:SharedArchiveFile={archive}"]
    assert sorted(os.listdir(warm.cds)) == sorted(["conf", warm.key + ".jsa"])  # no class list or dump left
    assert _mapped(warm.log) > 1000


def test_caller_java_options_survive(warm):
    """The caller's ``spark.driver.extraJavaOptions`` reach the JVM,
    ahead of the archive option."""
    args = warm.second["args"]
    mine = [a for a in args if a.startswith(("-Djava.io.tmpdir=", "-XX:-UsePerfData", "-Xlog:class+load"))]
    assert len(mine) == 3
    assert max(map(args.index, mine)) < args.index(_archive_options(args)[0])


def test_no_package_zip_left_behind(warm):
    """The zip ``_ship_package`` makes for executors goes at interpreter
    exit: a process that started and stopped a session leaves none."""
    for t in ("t1", "t2"):
        assert not glob.glob(os.path.join(warm.base, t, "pig_spark_pkg_*")), t


def test_truncated_dump_is_never_published(warm, tmp_path, monkeypatch):
    """A dump that does not map (cut short) is removed, not published."""
    cds = _cds(tmp_path / "cache")
    os.makedirs(cds)
    record = os.path.join(cds, f"{warm.key}.cut.classlist")
    with open(record, "w", encoding="utf-8") as f:
        f.write("java/lang/Object\norg/apache/spark/SparkConf\n")

    def truncated(java, classpath, tmp, names, env, cwd):
        with open(os.path.join(warm.cds, warm.key + ".jsa"), "rb") as src, open(tmp, "wb") as dst:
            dst.write(src.read(48 << 20))

    monkeypatch.setattr(session, "_dump_classes", truncated)
    archive = session._ClassArchive(cds, record, record=True)  # noqa: SLF001
    archive.build("java", warm.first["classpath"], os.getpid())
    assert os.listdir(cds) == []


def test_dead_processes_files_are_removed(warm, tmp_path):
    """A dump or class list no live process names is removed by the next
    session, which starts normally (it records) and maps nothing."""
    cds = _cds(tmp_path / "cache")
    os.makedirs(cds)
    tmp = os.path.join(cds, f"{warm.key}.cut.tmp")
    with open(os.path.join(warm.cds, warm.key + ".jsa"), "rb") as src, open(tmp, "wb") as dst:
        dst.write(src.read(48 << 20))
    open(os.path.join(cds, f"{warm.key}.old.classlist"), "w").close()
    out = _start(tmp_path / "cache", tmp_path / "t", log=tmp_path / "classload.txt", build=False)
    [record] = _archive_options(out["args"])
    assert record.startswith("-XX:DumpLoadedClassList=")
    assert sorted(os.listdir(cds)) == sorted(["conf", os.path.basename(record.split("=", 1)[1])])
    assert _mapped(tmp_path / "classload.txt") == 0


def test_failed_start_leaves_nothing_behind(tmp_path, monkeypatch):
    """A process whose ``getOrCreate`` fails after its JVM launched (the
    JVM refuses the master URL) builds nothing; once that JVM is gone,
    the next plan removes its class list."""
    cache = tmp_path / "cache"
    env = {**os.environ, "XDG_CACHE_HOME": str(cache), "TMPDIR": str(tmp_path)}
    r = subprocess.run(
        [sys.executable, "-c", "from pig_spark.session import get_spark; get_spark('bad', master='bogus')"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode != 0 and "JAVA_GATEWAY_EXITED" in r.stderr
    cds = _cds(cache)
    [record] = glob.glob(os.path.join(cds, "*.classlist"))
    deadline = time.monotonic() + 60
    while session._in_use([record]) and time.monotonic() < deadline:  # noqa: SLF001 — its JVM is exiting
        time.sleep(0.2)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    plan = session._ClassArchive.plan({})  # noqa: SLF001
    assert plan is not None and plan.record
    assert os.listdir(cds) == ["conf"]


def test_archive_for_another_class_path_falls_back(warm, tmp_path):
    """An archive under the right name but dumped for another class
    path is ignored by the JVM: a normal start, no class mapped."""
    cds = _cds(tmp_path / "cache")
    os.makedirs(cds)
    [launcher] = glob.glob(os.path.join(_find_spark_home(), "jars", "spark-launcher_*.jar"))
    subprocess.run(
        ["java", f"-XX:ArchiveClassesAtExit={cds}/{warm.key}.jsa", "-Xlog:cds=off", "-cp", launcher,
         "org.apache.spark.launcher.Main"],
        cwd=tmp_path, capture_output=True, timeout=120, check=False,
    )
    assert os.path.getsize(os.path.join(cds, warm.key + ".jsa")) > 0
    out = _start(tmp_path / "cache", tmp_path / "t", log=tmp_path / "classload.txt")
    assert _archive_options(out["args"]) == [f"-XX:SharedArchiveFile={cds}/{warm.key}.jsa"]
    assert _mapped(tmp_path / "classload.txt") == 0


def test_real_conf_dir_starts_without_archive(tmp_path):
    """A conf dir holding a real file keeps Spark's own launch: no
    archive option, nothing written to the cache."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ui.showConsoleProgress false\n")
    out = _start(tmp_path / "cache", tmp_path / "t", env={"SPARK_CONF_DIR": str(conf)})
    assert _archive_options(out["args"]) == []
    assert not os.path.exists(_cds(tmp_path / "cache"))


def test_existing_jvm_and_unwritable_cache_start_normally(spark, tmp_path, monkeypatch):
    """No archive when a JVM is already running (``getOrCreate`` reuses
    it), spark-submit arguments may change the class path or the cache
    cannot be written; a plan merges its option after the caller's."""
    assert SparkContext._gateway is not None  # noqa: SLF001
    assert session._ClassArchive.plan({}) is None  # noqa: SLF001
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    assert session._ClassArchive.plan({}) is None  # noqa: SLF001
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    assert session._ClassArchive.plan({"spark.driver.extraClassPath": "/x"}) is None  # noqa: SLF001
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--driver-class-path /x pyspark-shell")
    assert session._ClassArchive.plan({}) is None  # noqa: SLF001
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS")
    plan = session._ClassArchive.plan({})  # noqa: SLF001
    assert plan is not None and plan.record
    assert plan.java_options("-Xms2g -XX:-UseDynamicNumberOfCompilerThreads") == (
        f"-Xms2g -XX:-UseDynamicNumberOfCompilerThreads {plan.option}"
    )


def test_files_in_use_are_left_alone(tmp_path):
    """A file a live process names on its command line (a recording JVM,
    a dump being written) is kept, and its key reported busy; once the
    process is gone it is removed. Published archives stay."""
    cds = tmp_path / "cds"
    cds.mkdir()
    (cds / "conf").mkdir()
    live = str(cds / "k.live.classlist")
    open(live, "w").close()
    (cds / "k.jsa").write_text("")
    proc = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)", live])
    try:
        assert session._sweep(str(cds), lambda n: n.endswith(".jsa")) == {"k.live.classlist"}  # noqa: SLF001
    finally:
        proc.kill()
        proc.wait()
    assert session._sweep(str(cds), lambda n: n.endswith(".jsa")) == set()  # noqa: SLF001
    assert sorted(os.listdir(cds)) == ["conf", "k.jsa"]
